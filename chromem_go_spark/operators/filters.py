"""The reference's filter DSL as Catalyst predicates.

Semantics from reference query.go:133-163:
- ``where``: conjunctive exact-equality on metadata entries; a missing
  key is a non-match (query.go:135-141).
- ``where_document``: ``$contains`` / ``$not_contains`` substring
  predicates on the content column; any other operator is rejected with
  the golden error string "unsupported operator" (query.go:14,
  collection.go:513-518).

Expressed declaratively so Catalyst pushes the cheap predicates below
the expensive similarity projection (the reference hand-orders this at
collection.go:521; Spark's PushDownPredicates does it for free) and down
to the Parquet scan when the filter hits a top-level column.

A batch whose queries each carry their own filter renders its distinct
filters as SQL text into one ``array<boolean>`` column
(:func:`filter_classes`), which the GEMM kernel reads as a mask.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference query.go:14
SUPPORTED_FILTERS = ("$contains", "$not_contains")


def validate_where_document(where_document: Mapping[str, str] | None) -> None:
    """Operator whitelist (reference collection.go:513-518, 348-352)."""
    if not where_document:
        return
    for k in where_document:
        if k not in SUPPORTED_FILTERS:
            raise ValueError("unsupported operator")


def where_predicate(where: Mapping[str, str] | None, metadata_col: str = "metadata") -> Column:
    """AND-fold of metadata[k] == v. ``element_at`` on a missing key yields
    NULL, and NULL == v filters out the row — matching the reference's
    zero-value-compare behavior for missing keys (query.go:135-141)."""
    pred = F.lit(True)
    if not where:
        return pred
    for k, v in where.items():
        pred = pred & (F.element_at(F.col(metadata_col), F.lit(k)) == F.lit(v))
    return pred


def where_document_predicate(
    where_document: Mapping[str, str] | None, content_col: str = "content"
) -> Column:
    """$contains / $not_contains on the content column
    (reference query.go:145-160)."""
    validate_where_document(where_document)
    pred = F.lit(True)
    if not where_document:
        return pred
    for op, v in where_document.items():
        contains = F.col(content_col).contains(F.lit(v))
        if op == "$contains":
            pred = pred & contains
        else:  # $not_contains
            pred = pred & ~contains
    return pred


def combined_predicate(
    where: Mapping[str, str] | None,
    where_document: Mapping[str, str] | None,
    metadata_col: str = "metadata",
    content_col: str = "content",
) -> Column:
    """Full pre-filter (reference filterDocs query.go:87-129): metadata AND
    content predicates, applied before any similarity scoring."""
    return where_predicate(where, metadata_col) & where_document_predicate(
        where_document, content_col
    )


# ------------------------------------------------- per-query classes


def sql_strings(values) -> str:
    """Comma-separated SQL string literals of ``values`` (backslash
    escaped first, then the quote)."""
    return ", ".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
    )


def filter_sql(
    where: Mapping[str, str],
    contains,
    not_contains,
    value_sql=None,
    content_col: str = "content",
) -> str:
    """One parsed filter ``(where_map, contains, not_contains)`` as SQL
    text: ``coalesce(<value> = 'v' AND contains(content, 's') AND NOT
    contains(content, 't'), false)``, or ``true`` when it is empty.
    A missing key reads NULL and a NULL never matches (reference
    query.go:135-155).  ``value_sql(key)`` renders a where-key's value;
    the default is the ``metadata`` map entry."""
    if value_sql is None:
        value_sql = lambda k: f"metadata[{sql_strings([k])}]"  # noqa: E731
    text = f"`{content_col}`"
    preds = [f"{value_sql(k)} = {sql_strings([v])}" for k, v in sorted(where.items())]
    preds += [f"contains({text}, {sql_strings([s])})" for s in contains]
    preds += [f"NOT contains({text}, {sql_strings([s])})" for s in not_contains]
    return f"coalesce({' AND '.join(preds)}, false)" if preds else "true"


def filter_classes(parsed, **render) -> tuple[Column, list[int]]:
    """A batch's per-query filters as ``(classes, class_of)``: the
    distinct filters (keyed by their parsed tuple, ``where`` items
    sorted) rendered by :func:`filter_sql` into ONE ``array<boolean>``
    Column parsed once, and ``class_of[j]``, the entry query ``j``
    uses.  The GEMM kernel (``knn._gemm_topk``) masks each query's
    scores with its class bit per row."""
    index: dict[tuple, int] = {}
    class_of = [
        index.setdefault(
            (tuple(sorted(w.items())), tuple(c), tuple(nc)), len(index)
        )
        for w, c, nc in parsed
    ]
    entries = ", ".join(
        filter_sql(dict(w), c, nc, **render) for w, c, nc in index
    )
    return F.expr(f"array({entries})"), class_of


# ------------------------------------------------------- extended DSL

_CMP_OPS = (
    "$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin",
    "$contains", "$not_contains",
)


def extended_where_predicate(
    where, metadata_col: str = "metadata", content_col: str | None = None
) -> Column:
    """Beyond-reference metadata filter DSL — the reference's own
    roadmap item ($and/$or, reference README.md:180), realized as a
    recursive compiler to ONE Catalyst predicate tree (so pushdown and
    codegen treat it exactly like a hand-written filter):

    - ``{"k": "v"}`` — equality (reference semantics: missing key is a
      non-match)
    - ``{"k": {"$eq"/"$ne": "v"}}`` — string compare
    - ``{"k": {"$gt"/"$gte"/"$lt"/"$lte": 3.5}}`` — numeric compare
      (the string metadata value casts to double; non-numeric values
      become NULL and don't match)
    - ``{"k": {"$in": [...]}}`` / ``$nin``
    - ``{"k": {"$contains"/"$not_contains": "sub"}}`` — substring (r8);
      over the ``content_col`` COLUMN when ``k == content_col`` (so a
      document-content predicate can sit anywhere in the tree —
      composable with $and/$or, unlike the reference's flat
      ``where_document``), else over the metadata value string.  ONLY
      the two substring ops rebind to the column: every other operator
      on a key named ``content`` keeps strict metadata binding, so
      pre-r8 queries never change meaning
    - ``{"$and": [f, ...]}`` / ``{"$or": [f, ...]}`` / ``{"$not": f}``
    - multiple entries in one mapping AND-fold (Chroma behavior)

    OPT-IN: the default query path keeps the reference's golden
    "unsupported operator" errors; pass ``extended_filters=True`` to
    ``Collection.query``/``query_embedding`` to use this compiler.
    NULL never matches anywhere (``$ne``/``$nin`` on a missing key is a
    non-match, not a match — documents lacking the key are excluded,
    which is the conservative reading and the reference's
    missing-key-never-matches rule extended)."""

    def val(k):
        return F.element_at(F.col(metadata_col), F.lit(k))

    def sub_target(k):
        # substring ops address the content COLUMN when the key names
        # it; all other ops stay metadata-bound (see the docstring)
        if content_col is not None and k == content_col:
            return F.col(content_col)
        return val(k)

    def leaf(k, spec) -> Column:
        if not isinstance(spec, Mapping):
            return val(k) == F.lit(str(spec))
        preds = []
        for op, v in spec.items():
            if op not in _CMP_OPS:
                raise ValueError("unsupported operator")
            if op == "$eq":
                preds.append(val(k) == F.lit(str(v)))
            elif op == "$ne":
                preds.append(val(k) != F.lit(str(v)))
            elif op == "$in":
                preds.append(val(k).isin([str(x) for x in v]))
            elif op == "$nin":
                preds.append(~val(k).isin([str(x) for x in v]))
            elif op == "$contains":
                preds.append(sub_target(k).contains(F.lit(str(v))))
            elif op == "$not_contains":
                # missing key / NULL content never matches either way
                preds.append(~sub_target(k).contains(F.lit(str(v))))
            else:
                # try_cast, not cast: under ANSI mode a plain cast of a
                # non-numeric metadata value would ABORT the query at
                # execution; the documented semantics are NULL -> no match
                num = val(k).try_cast("double")
                lit = F.lit(float(v))
                preds.append(
                    {"$gt": num > lit, "$gte": num >= lit,
                     "$lt": num < lit, "$lte": num <= lit}[op]
                )
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def compile_node(node) -> Column:
        if not isinstance(node, Mapping) or not node:
            raise ValueError("unsupported operator")
        preds = []
        for k, v in node.items():
            if k == "$and" or k == "$or":
                if not isinstance(v, (list, tuple)) or not v:
                    raise ValueError("unsupported operator")
                subs = [compile_node(s) for s in v]
                folded = subs[0]
                for s in subs[1:]:
                    folded = (folded & s) if k == "$and" else (folded | s)
                preds.append(folded)
            elif k == "$not":
                # coalesce INSIDE the negation: NOT(missing-key match)
                # must be true-ish only when the inner pred is known
                # false or null-as-false
                preds.append(~F.coalesce(compile_node(v), F.lit(False)))
            elif k.startswith("$"):
                raise ValueError("unsupported operator")
            else:
                preds.append(leaf(k, v))
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    if not where:
        return F.lit(True)
    return F.coalesce(compile_node(where), F.lit(False))


def conjunctive_contains_patterns(
    where, content_col: str = "content"
) -> list[str]:
    """The ``$contains`` patterns on the content column that are
    CONJUNCTIVELY required by an extended-DSL tree — i.e. every
    returned pattern must appear in any matching document, so each is
    a sound gram-index prune (conjunction can only shrink the
    candidate set).

    Walks top-level AND-folds and ``$and`` lists at any depth; stops
    at ``$or`` / ``$not`` (a pattern under either is NOT required —
    pruning on it would drop correct rows).  Returns ``[]`` for
    trees with nothing safely prunable (callers fall back to the
    scan).  Malformed trees also return ``[]`` — the compiler, not the
    extractor, owns validation errors."""
    out: list[str] = []

    def walk(node) -> None:
        if not isinstance(node, Mapping):
            return
        for k, v in node.items():
            if k == "$and" and isinstance(v, (list, tuple)):
                for sub in v:
                    walk(sub)
            elif k == content_col and isinstance(v, Mapping):
                pat = v.get("$contains")
                if isinstance(pat, str) and pat:
                    out.append(pat)
            # $or / $not / other keys: never descend

    walk(where)
    return list(dict.fromkeys(out))


def contains_pattern_groups(
    where, content_col: str = "content", max_groups: int = 16
) -> list[list[str]]:
    """The ``$contains`` pruning structure of an extended-DSL tree as a
    DISJUNCTION of CONJUNCTIVE pattern groups: every matching document
    satisfies at least one group in full (contains every pattern in
    it), so the union of the groups' gram-index candidate sets is a
    sound (superset) prune — the r9 extension of
    :func:`conjunctive_contains_patterns`, which is the single-group
    special case and still stops at ``$or``.

    Recursive over-approximation rules (anything not understood is
    "unconstrained" and prunes nothing — soundness first):

    - ``{content: {"$contains": p}}`` -> one group ``[p]``
    - ``$and`` / AND-folded mapping entries -> the cross-product of the
      children's groups (a match satisfies one group from EVERY child;
      capped at ``max_groups`` — beyond it the extra children are
      dropped, which only widens the superset)
    - ``$or`` -> the union of the children's groups, but ONLY when
      every child is constrained (one unconstrained branch could match
      anything, so the whole disjunction prunes nothing)
    - ``$not`` / other leaves -> unconstrained

    Returns ``[]`` when the tree has nothing safely prunable (callers
    fall back to the scan).  Malformed trees also return ``[]`` — the
    compiler, not the extractor, owns validation errors."""

    def walk(node) -> list[list[str]] | None:
        # None = unconstrained (could match anything); a list is the
        # disjunction of conjunctive groups this subtree REQUIRES
        if not isinstance(node, Mapping) or not node:
            return None
        anded: list[list[list[str]]] = []
        for k, v in node.items():
            if k == "$and" and isinstance(v, (list, tuple)) and v:
                for sub in v:
                    got = walk(sub)
                    if got:
                        anded.append(got)
            elif k == "$or" and isinstance(v, (list, tuple)) and v:
                subs = [walk(s) for s in v]
                if all(s for s in subs):
                    anded.append([g for s in subs for g in s])
            elif k == content_col and isinstance(v, Mapping):
                pat = v.get("$contains")
                if isinstance(pat, str) and pat:
                    anded.append([[pat]])
            # $not / other keys: contribute nothing
        if not anded:
            return None
        # the AND algebra (capped cross-product + dedupe) lives in ONE
        # place — and_fold_groups; dropping a child past the cap keeps
        # the candidate set a superset (prune less, never wrong)
        out = anded[0]
        for nxt in anded[1:]:
            out = and_fold_groups(out, nxt, max_groups)
        seen: dict[tuple, None] = {}
        for g in out:
            seen.setdefault(tuple(g), None)
        return [list(g) for g in seen]

    got = walk(where)
    return got if got else []


def and_fold_groups(
    a: list[list[str]], b: list[list[str]], max_groups: int = 16
) -> list[list[str]]:
    """AND two disjunctive group sets (cross-product, capped — same cap
    rule as :func:`contains_pattern_groups`): past ``max_groups`` the
    second constraint set is dropped, which only widens the superset.
    An empty set means unconstrained and yields the other side — but
    the cap applies to THAT side too (r10, ADVICE): a large batch where
    every query carries ``$contains`` would otherwise pass one group
    per query straight through, and the downstream disjunctive prune
    would build a per-query-sized OR expression tree.  Past the cap the
    result is ``[]`` (unconstrained — a no-op prune is always sound)."""
    if not a:
        return b if len(b) <= max_groups else []
    if not b:
        return a if len(a) <= max_groups else []
    if len(a) * len(b) > max_groups:
        return a if len(a) <= max_groups else []
    out = [sorted(set(x) | set(y)) for x in a for y in b]
    seen: dict[tuple, None] = {}
    for g in out:
        seen.setdefault(tuple(g), None)
    return [list(g) for g in seen]


def and_fold_patterns(
    groups: list[list[str]], patterns: list[str]
) -> list[list[str]]:
    """AND a conjunctive pattern list into a disjunctive group set: the
    extra patterns are required by EVERY branch, so they join every
    group (the flat ``where_document`` ``$contains`` composing with an
    extended tree's groups).  Empty ``groups`` means unconstrained —
    the fold becomes the single group of the required patterns."""
    if not patterns:
        return groups
    if not groups:
        return [list(patterns)]
    return [sorted(set(g) | set(patterns)) for g in groups]
