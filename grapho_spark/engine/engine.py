"""GraphEngine: statement-level execution of GQL over Spark.

Execution semantics follow /root/reference/server/server.go with the
declared-semantics fixes catalogued in SURVEY.md §1.3/§7:

- statements execute serially; the first error aborts the remainder of
  the script (server.go:190-194); no transactions.
- INSERT NODE/EDGE: type must exist, sequential string IDs from one
  shared counter (nodes ``"N"``, edges ``"edge_N"`` —
  server.go:533,557-559,616-617), endpoint labels type-checked
  (server.go:609-614), node refs resolve by direct ID or first
  property-match (server.go:745-765; made deterministic via smallest
  ID).
- UPDATE/DELETE/MATCH WHERE: the reference's conjunctive equality,
  extended to a conjunction of OR-groups of =/</>/<>/IN predicates; a
  key missing from the schema matches nothing (server.go:779-782);
  ``null`` matches stored nulls (server.go:793-797 — eqNullSafe).
  One binder, ``_bind_where``, resolves every key and coerces every
  literal ONCE per statement into a bound tree, and three lowerings
  read that tree: a Spark ``Column`` (``_where_col``), a row test for
  DML on driver-held rows (``_row_test``) and zone-pruning members
  (``zones.compile_pruning_groups``). Invariant: every leaf
  of every lowering returns true or false, never NULL, so NOT is
  plain negation.
- Declared-semantics divergences (enforced here, absent in the
  reference): typed coercion by catalog type, applied DEFAULTs, real
  NOT NULL (explicit null rejected), UNIQUE/PK guards, enum value
  checks, endpoint cardinality enforcement, RETURN projection honored.

Storage model (Spark-idiomatic substitute for the reference's mutable
in-memory maps): each node/edge type is a TABLE = immutable base
DataFrame (optionally parquet-backed, copy-on-write versions) + a
driver-side row buffer for OLTP appends. Reads union the two;
UPDATE/DELETE are MERGE-ON-READ (r12): each statement persists an
O(matched) side file (deletion vector of matched _ids, or rewritten
rows with SET applied) and the live view composes
``base ∖ ids ∪ rewrites`` lazily — never an O(table) materialization;
the next flush folds pending side files into the touched buckets'
leaf dirs only. At cluster scale the buffer would be a streaming
ingest table and flush() a compaction job — same architecture
(Delta/Iceberg deletion vectors + OPTIMIZE).

Every MATCH compiles in one ``_match``, in fixed steps: validate the
pattern's shape (``_match_shape``: a node union, a node/edge chain or
a variable-length reach), bind the WHERE once, scan each element
(``_element_scan``), connect the scans (union, equi-joins, or the
bounded shortest-hop expansion of ``_reach_pairs``), project RETURN,
then order and limit.

Driver rows (buffer, folded buffer snapshots, SHOW/DESCRIBE/EXPLAIN
output) enter Spark one way, ``_local_frame``: an Arrow table that
becomes a LocalRelation, which Spark filters and projects on the
driver with no job. An element scan of a small flushed table
(``_small_scan``: at most ``_SMALL_SCAN_ROWS`` rows to scan) reads the
pruned chain files with pyarrow and replays the mutation layers on
the driver, so point statements run with zero Spark jobs — the
reference's own in-memory execution model at OLTP sizes. A node
MATCH, UPDATE and DELETE read such scans, and so do the property
endpoint refs of edge DML. A chain MATCH whose elements all have such
scans joins them on the driver (``_chain_rows``: dict joins on row
indices, the hop kinds of ``_hop_schedule``) while the joined rows
stay under the same cap; its WHERE, RETURN and LIMIT then run over one
local relation, also with no job. INSERT EDGE checks endpoints and
cardinality over the same driver scans.

Durability: DDL goes ONLY to the catalog store (events JSONL); DML
goes ONLY to the commit log (JSONL of statement ASTs), replayed past
the manifest offset on open — this separation avoids the reference's
double-persistence replay conflict (server.go:47-68, SURVEY.md §3-B).
"""

from __future__ import annotations

import json
import operator
import os
import shutil
import tempfile
import threading
import weakref
from dataclasses import dataclass, field
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.pandas.types import to_arrow_schema

from grapho_spark.catalog.ddl import DDLError, apply_ddl
from grapho_spark.catalog.store import CatalogStore, _from_jsonable, _to_jsonable
from grapho_spark.catalog.types import (
    Catalog,
    DST_COLUMN,
    EdgeType,
    Endpoint,
    FieldSpec,
    ID_COLUMN,
    IndexSpec,
    NodeType,
    SRC_COLUMN,
    edge_struct,
    node_struct,
    spark_type,
)
from grapho_spark.engine import zones as zn
from grapho_spark.engine.coerce import CoercionError, coerce_literal
from grapho_spark.engine.commitlog import (
    BINARY_NAME,
    TEXT_NAME,
    CommitLog,
    detect_format,
)
from grapho_spark.gql import ast
from grapho_spark.gql.ast import Cardinality, LiteralKind, TypeSpec
from grapho_spark.gql.parser import parse_script

# Hash-bucket partition column of versioned table parquet (full
# rewrites write partitionBy(_gbkt); never present in data files or
# table schemas — it lives only in leaf-dir names).
BUCKET_COLUMN = "_gbkt"

# Merge-on-read mutations: side files at or below this row count AND
# this on-disk byte size get an explicit broadcast hint on the
# anti-join (the deletion-vector / rewrite side of a point mutation is
# tiny; hinting skips AQE's initial shuffle planning for the
# overwhelmingly common case). Larger side files fall through to AQE's
# runtime join selection — the byte gate (ADVICE r12) keeps a side
# file of ~1M wide string _ids from forcing a few-hundred-MB driver
# broadcast that F.broadcast would otherwise push past AQE's own size
# estimation.
_MUT_BROADCAST_ROWS = 1_000_000
_MUT_BROADCAST_BYTES = 32 << 20  # compressed parquet on disk

# Small-table scans (_small_scan): a node MATCH, UPDATE or DELETE on a
# flushed table whose rows to scan (kept leafs + side files + buffer)
# number at most this many reads them with pyarrow on the driver and
# runs with zero Spark jobs; larger scans take the Spark plan.
# Measured on a 4-vCPU VM, warm JVM, 4-column bound table (PERF.md,
# "OLTP point DML"): MATCH wall time breaks even near 20k rows (0.26 s
# both ways; 0.36 s vs 0.27 s at 50k) while DML stays ahead past 50k,
# so the cap sits at half the MATCH break-even.
_SMALL_SCAN_ROWS = 10_000

_ID_SCHEMA = ST.StructType([ST.StructField(ID_COLUMN, ST.StringType(), False)])

# Serializes the register-views + analyze window of GraphEngine.sql()
# across ALL engine instances sharing this process's SparkSession (temp
# views are session-global; see GraphEngine.sql's docstring).
_SQL_VIEW_LOCK = threading.Lock()

# Lowercased names of node_*/edge_* temp views REGISTERED BY A
# GraphEngine, keyed PER SparkSession (temp views are session-scoped:
# a process-global set would let an engine on session B discard the
# record of a view that lives on session A without dropping it, and
# A's next sql() would silently read the stale snapshot). sql() only
# ever drops names recorded for ITS OWN session — a user's own
# node_/edge_-prefixed view on the shared session (e.g. edge_weights)
# is not engine property and must survive (ADVICE r7). Guarded by
# _SQL_VIEW_LOCK; weak keys let dead sessions drop their record.
_ENGINE_OWNED_VIEWS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _cmp(col: Column, op: str, lit: Column) -> Column:
    """WHERE comparison: ``=`` is null-safe equality (the reference's
    observed semantics, server/server.go:793-797); ``<``/``>``/``<>``
    are the comparison extension — null never matches (three-valued
    SQL semantics on both sides of ``<>``). The extension branches must
    be TOTAL (never NULL): DELETE keeps rows via ``filter(~pred)``, and
    ``~NULL`` is NULL, which would silently DELETE null-valued rows a
    range predicate never matched (caught by
    tests/test_differential_model.py). Totality comes from explicit
    ``isNotNull`` guards rather than ``coalesce(cmp, false)``: a
    coalesce around the comparison is opaque to Catalyst's filter
    pushdown (the scan read every row group), while IsNotNull + the
    raw comparison push to the parquet scan — asserted by the
    ``gql_match_distinct_neq`` plan expectation. (false AND NULL is
    false, so the conjunction is total even when one side is null.)"""
    if op == "<":
        return col.isNotNull() & lit.isNotNull() & (col < lit)
    if op == ">":
        return col.isNotNull() & lit.isNotNull() & (col > lit)
    if op == "<=":
        return col.isNotNull() & lit.isNotNull() & (col <= lit)
    if op == ">=":
        return col.isNotNull() & lit.isNotNull() & (col >= lit)
    if op == "<>":
        return col.isNotNull() & lit.isNotNull() & (col != lit)
    return col.eqNullSafe(lit)


_AGG_FNS = {
    "SUM": F.sum,
    "MIN": F.min,
    "MAX": F.max,
    "AVG": F.avg,
    "COUNT": F.count,  # COUNT(field): non-null count (SQL semantics)
    # COUNT(DISTINCT field): Spark compiles the standard two-phase
    # (expand + partial agg) plan — map-side distinct before the
    # shuffle, no global collect
    "COUNT_DISTINCT": F.countDistinct,
}


def _where_groups(
    where: tuple["ast.Property", ...],
) -> list[list["ast.Property"]]:
    """Split a WHERE list into its conjunction of disjunction groups:
    properties sharing an ``or_group >= 0`` form one OR group; every
    ``or_group < 0`` property is its own conjunct (the reference's
    comma = AND, server/server.go:768-803)."""
    groups: dict[object, list] = {}
    order: list[object] = []
    for i, p in enumerate(where):
        k = ("g", p.or_group) if getattr(p, "or_group", -1) >= 0 else ("s", i)
        if k not in groups:
            groups[k] = []
            order.append(k)
        groups[k].append(p)
    return [groups[k] for k in order]


def _in_pred(col: Column, vals: list) -> Column:
    """``field IN (v1, ...)`` over coerced literals. Null handling
    mirrors the engine's null-safe ``=``: a NULL literal in the list
    matches stored nulls (compiled as an IsNull branch); otherwise a
    null cell never matches — exactly what Catalyst's In gives, so
    the non-null arm stays a single pushable In filter on the scan."""
    nonnull = [v for v in vals if v is not None]
    parts: list[Column] = []
    if nonnull:
        # IsNotNull guard keeps the predicate TOTAL (never NULL): In()
        # on a null cell yields NULL, and DELETE's keep-side ~NULL
        # would silently delete null rows the list never matched (the
        # same trap _cmp documents; caught by the differential model).
        # IsNotNull AND In both push to the parquet scan.
        parts.append(col.isNotNull() & col.isin(*nonnull))
    if any(v is None for v in vals):
        parts.append(col.isNull())
    if not parts:  # programmatic empty list: matches nothing
        return F.lit(False)
    expr = parts[0]
    for e in parts[1:]:
        expr = expr | e
    return expr


class EngineError(Exception):
    pass


@dataclass
class StatementResult:
    kind: str
    message: str = ""
    count: int = 0
    df: DataFrame | None = None


@dataclass
class _Table:
    schema: ST.StructType
    base: DataFrame | None = None
    buffer: list[dict] = field(default_factory=list)
    version: int = 0
    dirty: bool = False
    # True when BASE rows were mutated since the last flush (UPDATE/
    # DELETE/ALTER rewrite); False means any pending change is pure
    # buffered INSERTs, which flush as an O(delta) append version
    # instead of an O(table) rewrite (see flush()).
    base_dirty: bool = False
    # Hash buckets (pmod(xxhash64(_id), id_buckets)) whose rows were
    # mutated since the last flush: UPDATE/DELETE union in the matched
    # rows' buckets, letting flush() rewrite ONLY those buckets of the
    # versioned parquet (partition-pruned copy-on-write). None = the
    # touched set is unknowable (ALTER changed the physical schema),
    # forcing the full rewrite. _id never changes after insert, so a
    # row's bucket is immutable and the set stays a superset of every
    # changed bucket.
    touched_buckets: set[int] | None = field(default_factory=set)
    # Bucket count of the table's live bucket-complete layout (the
    # "n" of the tip chain's _BUCKETS.json). None = no bucket-complete
    # version yet, or a legacy whole-dir layout — the engine-level
    # id_buckets floor applies. Adaptive re-bucketing grows this at
    # full compacting rewrites (see _grown_bucket_n); it never changes
    # between full rewrites, so mutation-time touched-bucket recording
    # and the partial-rewrite filter always hash with the SAME n as
    # the layout they prune against.
    bucket_n: int | None = None
    # Lazily-built bloom sketches per unique field (operators/bloom.py):
    # a negative probe proves a value absent from base with no Spark
    # job. No false negatives; cleared whenever base VALUES can change
    # (UPDATE); DELETE keeps them (stale positives only cost an extra
    # exact scan). Inserted values are put() so the sketch stays a
    # superset of base+buffer across flushes.
    blooms: dict[str, object] = field(default_factory=dict)
    # Merge-on-read mutation layers since the last flush, in statement
    # order. Entries: ("fold", rows) — a buffer snapshot folded into
    # the view at mutation time, held as an Arrow table (row tuples
    # when the schema has no Arrow form; both enter Spark through
    # _local_frame); ("d", path) — a deletion-vector
    # parquet of matched _ids; ("u", path) — a rewrite parquet of
    # matched rows with SET applied; ("rebase", path) — a full view
    # snapshot that RESTARTS the composition (depth bound). The live
    # view (tab.base) is base₀ with these applied sequentially:
    # fold → ∪ rows; d → ∖ ids; u → ∖ ids ∪ rewrites. Side files live
    # in session-scoped temp — durability is the commit log (replay
    # re-derives them) and the next flush folds them into versioned
    # parquet.
    mut_parts: list = field(default_factory=list)
    # Lazy-plan depth of tab.base in mutation/delta layers
    # (diagnostic; every partial/full flush resets it via a fresh
    # chain read, and the rebase cap bounds it between flushes).
    base_layers: int = 0


def _having_value(lit: "ast.Literal", dt: ST.DataType, name: str) -> object:
    """Coerce a HAVING literal against the RESULT column's Spark type
    (aggregate outputs have no catalog spec — sum→long, avg→double,
    count→long — so coercion keys off the plan's schema). Kind
    mismatches error instead of silently casting to null."""
    if lit.kind is LiteralKind.NULL:
        return None
    if isinstance(dt, ST.NumericType):
        if lit.kind is not LiteralKind.NUMBER:
            raise EngineError(
                f"HAVING {name!r}: expected a numeric literal, got {lit.text!r}"
            )
        return float(lit.text) if "." in lit.text else int(lit.text)
    if isinstance(dt, ST.BooleanType):
        if lit.kind is not LiteralKind.BOOL:
            raise EngineError(
                f"HAVING {name!r}: expected a boolean literal, got {lit.text!r}"
            )
        return lit.text.lower() == "true"
    if lit.kind is not LiteralKind.STRING:
        raise EngineError(
            f"HAVING {name!r}: expected a string literal, got {lit.text!r}"
        )
    return lit.text


def _bind(items: tuple, bind_leaf) -> list[list]:
    """The bound tree of a WHERE/HAVING item list: its conjunction of
    OR-groups, each leaf bound by ``bind_leaf`` (which resolves the
    key and coerces the literal, or raises), nested groups recursed."""
    return [
        [
            zn.Sub(_bind(p.items, bind_leaf), p.negated)
            if isinstance(p, ast.PredGroup)
            else bind_leaf(p)
            for p in group
        ]
        for group in _where_groups(items)
    ]


def _coerce_where_value(p: "ast.Property", spec: FieldSpec, name: str) -> object:
    """A WHERE leaf's literal coerced by the field's catalog type (a
    list for ``IN``)."""
    if p.op == "in" and spec.type.elem is not None:
        raise EngineError(f"IN is not supported on array field {name!r}")
    try:
        if p.op == "in":
            return [coerce_literal(v, spec.type, name) for v in p.in_values]
        return coerce_literal(p.value, spec.type, name)
    except CoercionError as e:
        raise EngineError(str(e)) from e


def _bind_where(
    where: tuple,
    elements: list[tuple[str | None, dict[str, FieldSpec], list[str]]],
) -> list[list]:
    """THE WHERE binder: resolve every key and coerce every literal
    once against the pattern ``elements`` — ``(alias, field specs,
    columns)`` each; one element for node MATCH, DML and endpoint
    refs, several for chain and variable-length MATCH. A qualified
    key ``a.field`` targets exactly the element aliased ``a``; an
    unqualified key targets EVERY element declaring the field (the
    leaf is their conjunction). A key no element resolves binds to a
    Dead member — FALSE, the reference's missing-key-matches-nothing
    rule (server/server.go:779-782)."""

    def leaf(p: "ast.Property") -> tuple:
        q, f = p.name.split(".", 1) if "." in p.name else (None, p.name)
        owners = []
        for i, (alias, specs, columns) in enumerate(elements):
            spec = specs.get(f)
            if (q is not None and q != alias) or spec is None or f not in columns:
                continue
            owners.append(
                (i, f, spark_type(spec.type), _coerce_where_value(p, spec, f))
            )
        if not owners:
            return zn.Dead(p, p.negated)
        return zn.Leaf(p.op, tuple(owners), p.negated)

    return _bind(where, leaf)


def _bind_having(
    items: tuple, out: DataFrame, allowed: dict[str, str]
) -> list[list]:
    """HAVING binds against the closed set of result columns: unknown
    names are ERRORS (exactly the set ORDER BY enforces), unlike
    WHERE's missing-key-matches-nothing rule for open row schemas;
    literals coerce by the result column's Spark type. It lowers to a
    plain ``filter`` after the agg: Catalyst keeps the partial-agg
    shape (the filter reads aggregate outputs, so it cannot block
    pushdown below the aggregate)."""

    def leaf(p: "ast.Property") -> tuple:
        if p.name not in allowed:
            raise EngineError(
                f"HAVING field {p.name!r} is not a group key or aggregate "
                f"alias of this RETURN (available: {sorted(set(allowed))})"
            )
        col = allowed[p.name]
        dt = out.schema[col].dataType
        if p.op == "in":
            val = [_having_value(v, dt, p.name) for v in p.in_values]
        else:
            val = _having_value(p.value, dt, p.name)
        return zn.Leaf(p.op, ((0, col, dt, val),), p.negated)

    return _bind(items, leaf)


def _where_col(groups: list, aliases: list[str] | None = None) -> Column:
    """The Spark ``Column`` lowering of a bound tree. Columns are the
    bare field names, or ``<alias>_<field>`` over the alias-prefixed
    chain/var-length columns. ``=`` is null-safe equality
    (server.go:793-797); ``<``/``>``/``<>`` use guarded SQL comparison
    (see ``_cmp``); ``IN`` compiles to a pushable In filter (see
    ``_in_pred``); a Dead member is FALSE. Every leaf is TOTAL, so NOT
    is plain negation (never a three-valued surprise on DELETE's
    ``~pred`` keep side). Catalyst constant-folds the FALSE members
    away, so pushdown is unaffected."""
    pred = F.lit(True)
    for group in groups:
        gpred: Column | None = None
        for m in group:
            if isinstance(m, zn.Sub):
                one = _where_col(m.groups, aliases)
            elif isinstance(m, zn.Dead):
                one = F.lit(False)
            else:
                one = None
                for i, f, dt, val in m.owners:
                    col = F.col(f"{aliases[i]}_{f}" if aliases else f)
                    x = (
                        _in_pred(col, val)
                        if m.op == "in"
                        else _cmp(col, m.op, F.lit(val).cast(dt))
                    )
                    one = x if one is None else one & x
            one = ~one if m.negated else one
            gpred = one if gpred is None else (gpred | one)
        pred = pred & (gpred if gpred is not None else F.lit(False))
    return pred


_ROW_CMP = {
    "<": operator.lt,
    ">": operator.gt,
    "<=": operator.le,
    ">=": operator.ge,
    "<>": operator.ne,
}
_TIMESTAMP = ST.TimestampType()
# bound PK column types whose ``str`` text is Spark's cast to string
_PK_ID_TYPES = (ST.ShortType, ST.IntegerType, ST.LongType, ST.StringType)
# type families whose widths the row test compares exactly under one
# another (see _row_test_exact)
_ROW_FAMILIES = (
    (ST.ByteType, ST.ShortType, ST.IntegerType, ST.LongType),
    (ST.FloatType, ST.DoubleType),
)


def _row_holds(op: str, got: object, val: object) -> bool:
    """One leaf comparison with ``_cmp``/``_in_pred`` semantics."""
    if op == "in":
        return any(_row_holds("=", got, v) for v in val)
    if got is None or val is None:
        return op == "=" and got is val
    return got == val if op == "=" else _ROW_CMP[op](got, val)


def _float_key(v: float | None) -> tuple | None:
    """A float as a key that orders like Spark: NaN equals NaN and is
    above every number."""
    return None if v is None else ((1, 0.0) if v != v else (0, v))


def _row_test(groups: list, aliases: list[str] | None = None):
    """The row-test lowering of a bound tree: ``callable(row) ->
    bool`` over row dicts keyed like ``_where_col``'s columns, with
    the same semantics. DML on driver-held rows (a pure-buffer table
    or a small flushed table's scan, see ``_mutation_rows``) uses
    it: point DML on in-memory rows is the reference's own execution
    model (Go maps on one machine), and a Spark job costs ~0.5 s per
    statement. Timestamps compare as the instants Spark stores — epoch
    microseconds, as
    ``TimestampType().toInternal`` computes them — so values with and
    without a UTC offset order like they do in the ``Column``
    lowering; floating-point NaN equals NaN and sorts above every
    number, as in Spark."""

    def member(m):
        if isinstance(m, zn.Sub):
            test = _row_test(m.groups, aliases)
        elif isinstance(m, zn.Dead):
            test = lambda r: False  # noqa: E731
        else:
            checks = []
            for i, f, dt, val in m.owners:
                if isinstance(dt, ST.TimestampType):
                    norm = _TIMESTAMP.toInternal
                elif isinstance(dt, (ST.DoubleType, ST.FloatType)):
                    norm = _float_key
                else:
                    norm = lambda v: v  # noqa: E731
                val = [norm(v) for v in val] if m.op == "in" else norm(val)
                checks.append((f"{aliases[i]}_{f}" if aliases else f, norm, val))
            test = lambda r: all(  # noqa: E731
                _row_holds(m.op, norm(r.get(key)), val) for key, norm, val in checks
            )
        return (lambda r: not test(r)) if m.negated else test

    compiled = [[member(m) for m in group] for group in groups]
    return lambda r: all(any(t(r) for t in g) for g in compiled)


def _row_test_exact(groups: list, schema: ST.StructType) -> bool:
    """Does the row test of ``groups`` select exactly what the
    ``Column`` does over rows of ``schema``? It does when every bound
    field stores its catalog type, up to the width of an integer or a
    float (both sides in one family). A bound table can store other
    types under a catalog type (a decimal or a byte under ``string``):
    the ``Column`` compares those with Spark's casts, the row test with
    Python's."""
    for m in (m for g in groups for m in g):
        if isinstance(m, zn.Sub):
            if not _row_test_exact(m.groups, schema):
                return False
        elif isinstance(m, zn.Leaf):
            for _, f, dt, _ in m.owners:
                have = schema[f].dataType
                if have != dt and not any(
                    isinstance(have, fam) and isinstance(dt, fam)
                    for fam in _ROW_FAMILIES
                ):
                    return False
    return True


def _resolve_result_col(out: DataFrame, name: str, clause: str) -> str:
    """Resolve a user field against result columns: exact name first,
    else a unique ``<alias>_<field>`` suffix match (the chain and
    var-length paths prefix columns with the element alias). An
    alias-QUALIFIED name (``x.field``) maps to its exact ``x_field``
    output column — never a suffix guess."""
    if "." in name:
        exact = name.replace(".", "_")
        if exact in out.columns:
            return exact
        raise EngineError(
            f"{clause} field {name!r} not found in result columns {out.columns}"
        )
    if name in out.columns:
        return name
    suffix = [c for c in out.columns if c.endswith(f"_{name}")]
    if len(suffix) != 1:
        raise EngineError(
            f"{clause} field {name!r} not found in result columns {out.columns}"
            if not suffix
            else f"{clause} field {name!r} is ambiguous: {suffix}"
        )
    return suffix[0]


def _return_field_owner(
    rf: str,
    aliases: list[str],
    specs: list[dict],
    where_desc: str,
) -> tuple[str, str]:
    """(owner_alias, bare_field) for a RETURN item over alias-prefixed
    columns: a qualified ``x.field`` targets exactly its element; an
    unqualified field keeps the first-declaring-element rule."""
    if "." in rf:
        q, f = rf.split(".", 1)
        if q not in aliases:
            raise EngineError(f"RETURN alias {q!r} is not in the pattern")
        if f not in specs[aliases.index(q)]:
            raise EngineError(
                f"RETURN field {f!r} is not declared by element {q!r}"
            )
        return q, f
    owner = next(
        (aliases[i] for i, sp in enumerate(specs) if rf in sp), None
    )
    if owner is None:
        raise EngineError(f"RETURN field {rf!r} {where_desc}")
    return owner, rf


def _return_items(stmt: "ast.MatchStmt") -> list[tuple[str, str | None]]:
    """RETURN items to project as ``(field, output_alias | None)``
    pairs: the named fields (with their r11 ``AS`` output aliases) plus
    the source fields of grouped aggregates (``RETURN city, SUM(age)``
    must carry ``age`` through the projection for the aggregation
    step). An aggregate source rides along under its OWN name even when
    the field also appears aliased (``RETURN age AS a, SUM(age)`` —
    the aggregation step resolves the raw name)."""
    aliases = stmt.return_aliases or (None,) * len(stmt.return_fields)
    items = list(zip(stmt.return_fields, aliases))
    plain = {rf for rf, al in items if al is None}
    for _, fname in stmt.return_aggs:
        if fname != "*" and fname not in plain:
            items.append((fname, None))
            plain.add(fname)
    return items


def _apply_order_limit(
    out: DataFrame,
    stmt: "ast.MatchStmt",
    tiebreak: list[Column],
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    """ORDER BY / LIMIT extension for MATCH results.

    Each ORDER BY field resolves against the result's output columns:
    exact name first, else a unique ``<alias>_<field>`` suffix match
    (the chain/var-length paths prefix columns with the element alias).
    The engine's deterministic _id tiebreak always follows the user
    keys, so LIMIT is stable across runs and engines. With a LIMIT the
    plan is TakeOrderedAndProject — per-partition top-k then a k-row
    merge on the driver, never a global sort.
    """
    if stmt.return_count:
        # RETURN COUNT(*): aggregate instead of project; map-side
        # partial count + single-row exchange, never a full sort.
        out = out.agg(F.count(F.lit(1)).alias("n_rows"))
        if getattr(stmt, "having", ()):
            out = out.filter(
                _where_col(_bind_having(stmt.having, out, {"n_rows": "n_rows"}))
            )
        return out
    if stmt.return_agg:
        # RETURN SUM/MIN/MAX/AVG/COUNT(field): same map-side-partial
        # shape as COUNT(*); the field resolves like an ORDER BY key
        # (COUNT(field) counts NON-NULL values, SQL semantics).
        func, fname = stmt.return_agg
        resolved = _resolve_result_col(out, fname, "aggregate")
        alias = f"{func.lower()}_{fname.replace('.', '_')}"
        out = out.agg(_AGG_FNS[func](F.col(resolved)).alias(alias))
        if getattr(stmt, "having", ()):
            out = out.filter(
                _where_col(_bind_having(stmt.having, out, {alias: alias}))
            )
        return out
    if stmt.return_aggs:
        # Grouped-aggregate RETURN: the return fields are the group
        # keys (none = one global row); each aggregate projects with a
        # deterministic alias. Map-side partial agg + one shuffle on
        # the key — the same shape as the single-aggregate forms.
        # a group key carrying an AS alias (r11) was projected under
        # the alias — resolve that exact output column, not the raw name
        key_aliases = stmt.return_aliases or (None,) * len(stmt.return_fields)
        keys = [
            _resolve_result_col(out, al or f, "RETURN group key")
            for f, al in zip(stmt.return_fields, key_aliases)
        ]
        # r11: each aggregate projects under its user AS alias when
        # given, else the deterministic <func>_<field> / n_rows name
        agg_user = stmt.return_agg_aliases or (None,) * len(stmt.return_aggs)
        agg_out: list[str] = [
            ua
            or (
                "n_rows"
                if func == "COUNT" and fname == "*"
                else f"{func.lower()}_{fname.replace('.', '_')}"
            )
            for (func, fname), ua in zip(stmt.return_aggs, agg_user)
        ]
        agg_cols: list[Column] = []
        for (func, fname), alias in zip(stmt.return_aggs, agg_out):
            if func == "COUNT" and fname == "*":
                agg_cols.append(F.count(F.lit(1)).alias(alias))
            else:
                resolved = _resolve_result_col(out, fname, "aggregate")
                agg_fn = _AGG_FNS[func]
                agg_cols.append(agg_fn(F.col(resolved)).alias(alias))
        out = out.groupBy(*keys).agg(*agg_cols) if keys else out.agg(*agg_cols)
        # Post-aggregation only group keys (by RETURN name or resolved
        # column) and aggregate aliases exist; a bare source field
        # (ORDER BY age after RETURN city, SUM(age)) must error, not
        # silently suffix-resolve to sum_age.
        allowed: dict[str, str] = {}
        for f, key_col in zip(stmt.return_fields, keys):
            allowed[f] = key_col
            allowed[key_col] = key_col
        for alias in agg_out:
            allowed[alias] = alias
        # HAVING (r12): post-aggregate filter over the same closed
        # namespace ORDER BY resolves against. Applied before ORDER
        # BY/LIMIT — SQL clause order.
        if getattr(stmt, "having", ()):
            out = out.filter(_where_col(_bind_having(stmt.having, out, allowed)))
        user_cols = []
        for name, desc in stmt.order_by:
            if name not in allowed:
                raise EngineError(
                    f"ORDER BY field {name!r} is not a group key or "
                    f"aggregate alias of this RETURN "
                    f"(available: {sorted(set(allowed))})"
                )
            resolved = allowed[name]
            user_cols.append(F.col(resolved).desc() if desc else F.col(resolved).asc())
        # deterministic group order: user keys, then the group keys
        # (a global aggregate has one row — nothing to order)
        if user_cols or keys:
            out = out.orderBy(*user_cols, *[F.col(k) for k in keys])
        if getattr(stmt, "offset", None):
            out = out.offset(stmt.offset)
        if stmt.limit is not None:
            out = out.limit(stmt.limit)
        return out
    if distinct_cols is not None:
        # RETURN DISTINCT: dedupe the PROJECTED return fields (entity
        # ids are dropped — keeping them would make distinct a no-op).
        # The deterministic tiebreak becomes the full projected tuple,
        # which is a total order post-distinct. Partial-agg + shuffle
        # on the return-field key — never a global sort.
        out = out.select(*distinct_cols).distinct()
        tiebreak = [F.col(c) for c in distinct_cols]
    user_cols: list[Column] = []
    for name, desc in stmt.order_by:
        resolved = _resolve_result_col(out, name, "ORDER BY")
        user_cols.append(F.col(resolved).desc() if desc else F.col(resolved).asc())
    if user_cols or tiebreak:  # no tiebreak: the input is in order
        out = out.orderBy(*user_cols, *tiebreak)
    if getattr(stmt, "offset", None):
        # paging: the deterministic tiebreak above makes the skipped
        # prefix stable, so consecutive pages never overlap or gap;
        # orderBy+offset+limit compile to one TakeOrderedAndProject
        # (per-partition top-(m+n), driver merge) — no global sort
        out = out.offset(stmt.offset)
    if stmt.limit is not None:
        out = out.limit(stmt.limit)
    return out


def _scratch_host_tag() -> str:
    """Hostname component of a mutation-scratch root name, sanitized
    so the ``-``-delimited ``mut-<pid>-<host>-<rand>`` format parses
    unambiguously (dashes/dots stripped, length-capped)."""
    import re
    import socket

    try:
        h = socket.gethostname()
    except OSError:
        h = "unknown"
    return re.sub(r"[^A-Za-z0-9]", "", h)[:32] or "unknown"


def _hkey(v: object) -> object:
    """Hashable key with value-equality semantics (array fields are
    Python lists; nested arrays nest)."""
    return tuple(_hkey(x) for x in v) if isinstance(v, list) else v


def _arrow_values(values: list, dt: ST.DataType) -> list:
    """One column of driver values in the form pyarrow takes for the
    Arrow type of ``dt``. Timestamps become the epoch microseconds
    ``toInternal`` computes, exactly as ``createDataFrame(list, …)``
    converts them (pyarrow's own conversion reads a naive value as UTC,
    not as local time); arrays recurse."""
    if isinstance(dt, (ST.TimestampType, ST.TimestampNTZType)):
        return [None if v is None else dt.toInternal(v) for v in values]
    if isinstance(dt, ST.ArrayType):
        return [
            None if v is None else _arrow_values(v, dt.elementType) for v in values
        ]
    return values


def _arrow_table(rows: list, schema: ST.StructType) -> pa.Table:
    """Driver rows (dicts keyed by field name, or tuples in schema
    order) as one Arrow table of ``schema``. Raises when the schema has
    no Arrow form or a value does not convert."""
    asch = to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)
    cols = []
    for i, f in enumerate(schema.fields):
        vals = [r.get(f.name) if isinstance(r, dict) else r[i] for r in rows]
        cols.append(pa.array(_arrow_values(vals, f.dataType), type=asch.field(i).type))
    return pa.Table.from_arrays(cols, schema=asch)


def _snapshot(rows: list, schema: ST.StructType) -> "pa.Table | list[tuple]":
    """Driver rows as an Arrow table of ``schema`` (``_arrow_table``),
    or as row tuples when the schema or a value has no Arrow form."""
    try:
        return _arrow_table(rows, schema)
    except (TypeError, ValueError, PySparkException):
        return [
            tuple(r.get(f.name) for f in schema.fields)
            if isinstance(r, dict)
            else tuple(r)
            for r in rows
        ]


def _parquet_table(paths: list[str], asch: pa.Schema) -> pa.Table:
    """Parquet files read with pyarrow and cast to ``asch``: Spark's
    INT96 timestamps are read as naive microseconds holding the UTC
    instant (pyarrow's default nanoseconds overflow silently outside
    1677-2262) and become UTC microseconds, and a column a file lacks
    reads as nulls, as Spark's read with a schema does."""
    parts = []
    for p in paths:
        f = pq.ParquetFile(p, coerce_int96_timestamp_unit="us")
        t = f.read(columns=[n for n in asch.names if n in f.schema_arrow.names])
        parts.append(
            pa.Table.from_arrays(
                [
                    t.column(f.name).cast(f.type)
                    if f.name in t.column_names
                    else pa.nulls(t.num_rows, f.type)
                    for f in asch
                ],
                schema=asch,
            )
        )
    return pa.concat_tables(parts) if parts else asch.empty_table()


def _write_side_file(path: str, rows: list, schema: ST.StructType) -> None:
    """A mutation side file written from the driver: one parquet part
    in the directory ``path``, readable like Spark's."""
    os.makedirs(path)
    pq.write_table(
        _arrow_table(rows, schema), os.path.join(path, "part-00000.parquet")
    )


def _parquet_files(path: str) -> list[str]:
    """The parquet data files of a side-file directory."""
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _id_order(t: pa.Table) -> pa.Table:
    """``t`` in the engine's ``_id`` order, ``(length(_id), _id)``: the
    numeric-aware order of sequential string ids ('2' < '10'), as
    MATCH's tiebreak sorts them (Python's code-point order is Spark's
    UTF-8 byte order)."""
    ids = t.column(ID_COLUMN).to_pylist()
    order = sorted(range(len(ids)), key=lambda i: (len(ids[i]), ids[i]))
    return t.take(pa.array(order, type=pa.int64()))


def _hop_schedule(pattern: tuple) -> list[tuple[str, str]]:
    """The join kinds ``(src_how, dst_how)`` of each hop of a chain
    pattern (edge elements 1, 3, ...). OPTIONAL (r11): the marked edge
    hop and every later hop are LEFT joins, so left-prefix rows survive
    with NULL-padded edge/right-node fields (inner joins after an
    optional hop would re-drop the padded rows). A trailing ``OPTIONAL
    B b`` left-outers ONLY the final dst join (B is absent exactly when
    the edge dangles, since DELETE NODE does not cascade); a leading
    ``OPTIONAL A a`` makes the first src join a RIGHT join (every
    (e, b) survives, a NULL-padded)."""
    hows = []
    opt_seen = False
    for i in range(1, len(pattern), 2):
        opt_seen = opt_seen or pattern[i].optional
        src = "left" if opt_seen else "inner"
        if i == 1 and pattern[0].optional:
            src = "right"
        last_opt = i + 2 == len(pattern) and pattern[i + 1].optional
        hows.append((src, "left" if opt_seen or last_opt else "inner"))
    return hows


def _dead_fields(groups: list):
    """The bare field names of a bound tree's Dead members, in order."""
    for m in (m for g in groups for m in g):
        if isinstance(m, zn.Sub):
            yield from _dead_fields(m.groups)
        elif isinstance(m, zn.Dead):
            yield m.prop.name.split(".", 1)[-1]


def _reach_pairs(edges: DataFrame, lo: int, hi: int) -> DataFrame:
    """The ``(_s, _d, _hops)`` pairs of a variable-length edge: one row
    per pair reachable in ``lo..hi`` hops over the edge list ``edges``,
    with the SHORTEST such length (path multiplicity collapses in a min
    aggregation, which makes the result deterministic). The L-step
    reach sets are built by L-1 self-joins of the edge list (bounded
    unrolling, L <= 10 — declarative, so Catalyst plans ordinary
    equi-joins), unioned with a hops tag and min-aggregated on the
    pair. Self-pairs (a = b via a cycle) are kept: a cycle IS a path.
    Bounds no realizable length meets give the empty result."""
    edges = edges.select(F.col(SRC_COLUMN).alias("_s"), F.col(DST_COLUMN).alias("_d"))
    reach = edges.select("_s", "_d", F.lit(1).alias("_hops"))
    layers = [reach] if lo <= 1 else []
    frontier = reach
    for depth in range(2, hi + 1):
        nxt = edges.select(F.col("_s").alias("_s2"), F.col("_d").alias("_d2"))
        frontier = (
            frontier.join(nxt, frontier["_d"] == F.col("_s2"))
            .select("_s", F.col("_d2").alias("_d"), F.lit(depth).alias("_hops"))
            .distinct()  # per-layer: many paths, one (s, d) pair
        )
        if depth >= lo:
            layers.append(frontier)
    if not layers:
        # e.g. *2..3 over a heterogeneous edge: the statement is
        # well-formed and nothing is reachable
        layers = [reach.filter(F.lit(False))]
    pairs = layers[0]
    for extra in layers[1:]:
        pairs = pairs.unionByName(extra)
    return pairs.groupBy("_s", "_d").agg(F.min("_hops").alias("_hops"))


def _chain_rows(scans: list[pa.Table], hows: list[tuple[str, str]]) -> list | None:
    """A chain's joins on the driver over its elements' scans: one
    tuple of row indices per result row (None where a side is
    NULL-padded), joined through dicts (a NULL key never matches) and
    sorted by the chain tiebreak, each element's ``(length(_id), _id)``
    with NULLs first as in Spark's ascending sort. None once the rows
    pass ``_SMALL_SCAN_ROWS``."""
    ids = [t.column(ID_COLUMN).to_pylist() for t in scans]

    def index(keys: list) -> dict:
        at: dict = {}
        for r, k in enumerate(keys):
            if k is not None:
                at.setdefault(k, []).append(r)
        return at

    def probe(rows: list, keys: list, at: dict, how: str) -> list | None:
        out: list = []
        for row in rows:
            hits = () if row[-1] is None else at.get(keys[row[-1]], ())
            if hits:
                out.extend(row + (r,) for r in hits)
            elif how == "left":
                out.append(row + (None,))
            if len(out) > _SMALL_SCAN_ROWS:
                return None
        return out

    rows: list | None = [(r,) for r in range(scans[0].num_rows)]
    for h, (src_how, dst_how) in enumerate(hows):
        edge = scans[2 * h + 1]
        src = edge.column(SRC_COLUMN).to_pylist()
        if src_how == "right":  # the first hop: every edge row survives
            at = index(ids[0])
            rows = [(n, e) for e, k in enumerate(src) for n in at.get(k, (None,))]
        else:
            rows = probe(rows, ids[2 * h], index(src), src_how)
        if rows is None or len(rows) > _SMALL_SCAN_ROWS:
            return None
        rows = probe(
            rows, edge.column(DST_COLUMN).to_pylist(), index(ids[2 * h + 2]), dst_how
        )
        if rows is None:
            return None

    def key(e: int, r: int | None) -> tuple:
        x = None if r is None else ids[e][r]
        return (0,) if x is None else (1, len(x), x)

    rows.sort(key=lambda row: tuple(key(e, r) for e, r in enumerate(row)))
    return rows


class _Files(NamedTuple):
    """A chain read's file selection (``_chain_files``): the paths to
    read, the rows they hold (None when a leaf has no inventory), the
    physical schema, and whether zone pruning dropped any leaf."""

    paths: list[str]
    rows: int | None
    schema: ST.StructType | None
    pruned: bool


class GraphEngine:
    def __init__(
        self,
        spark: SparkSession,
        data_dir: str | None = None,
        replay: bool = True,
        log_format: str | None = None,
        snapshot_every: int = 64,
        keep_versions: int | None = None,
        log_segment_bytes: int | None = None,
        max_delta_chain: int = 8,
        id_buckets: int = 16,
        target_bucket_rows: int | None = None,
        zone_stats: bool = True,
        zone_bloom_rows: int = 100_000,
        bloom_semijoin_leafs: int = 32768,
    ):
        """``log_format``: commit-log encoding — ``"text"`` (JSONL, the
        default) or ``"binary"`` (4-byte BE length-prefixed records,
        the reference's alternative format, commitlog.go:121-133).
        ``None`` auto-detects from an existing log in ``data_dir``.
        ``log_segment_bytes``: roll the commit log into numbered sealed
        segments at this size (None = classic single file); replay and
        CDC offsets span segments transparently.

        ``snapshot_every``: auto-compaction cadence — once this many
        DDL events accumulate past the last snapshot, the engine runs a
        full ``flush()`` so reopen replays only the tail.

        ``keep_versions``: time-travel retention — keep this many most
        recent flushed parquet versions per table, pruning older ones
        at the end of each ``flush()`` (Delta-style VACUUM). ``None``
        (default) keeps every version forever; without a bound a
        long-lived OLTP workload grows storage without limit. Must be
        >= 1 when set (the live version is never pruned).

        ``max_delta_chain``: insert-only flushes append O(delta)
        versions onto the last full rewrite; once a chain carries this
        many deltas, the next flush compacts it with a full rewrite
        (bounding per-read path counts and retention's protected set
        on ingest-dominated workloads). Must be >= 1.

        ``id_buckets``: full rewrites lay the versioned parquet out as
        hash buckets of ``_id`` (``_gbkt=<k>`` leaf dirs + a
        _BUCKETS.json map). A later UPDATE/DELETE flush then rewrites
        ONLY the buckets holding matched rows and inherits the rest
        from the prior version's map — partition-pruned copy-on-write,
        so mutation I/O is O(touched/id_buckets of the table), not
        O(table). Size it so one bucket ≈ a healthy parquet file set
        at your table size (more buckets = finer rewrites but more
        files; at cluster scale hundreds-to-thousands). Must be >= 1;
        1 effectively disables pruning.

        ``target_bucket_rows``: adaptive re-bucketing — at each FULL
        compacting rewrite (first flush, chain compaction, ALTER,
        explicit ``compact()``), if the table now holds more than this
        many rows per bucket, the bucket count DOUBLES until it fits
        (grow-only; ``id_buckets`` stays the floor). The grown count
        is per-table, recorded in that version's _BUCKETS.json, and
        every later mutation/partial-rewrite hashes with it — so the
        partial-rewrite win stays O(touched · rows/bucket) as the
        table grows 100×, instead of decaying to O(table/16). The
        storage twin of the ANN index's outgrowth rule. ``None``
        (default) disables growth (fixed ``id_buckets``).

        ``zone_stats``: write per-version sidecars at flush — the
        leaf-file inventory + min/max/null zone statistics
        (``_FILES.json``, one pyarrow footer pass) and, for versions
        of at least ``zone_bloom_rows`` rows, per-leaf Bloom bitmaps
        over the type's PK/UNIQUE fields (``_ZONES``, one
        column-pruned JVM pass). Chain/AS OF reads then come from the
        explicit file manifest (no directory listing), and point
        UPDATE/DELETE/MATCH statements prune to the leafs whose
        stats/bloom admit the predicate (see engine/zones.py).
        Versions written without sidecars fall back to dir-listing
        reads with no pruning.

        ``bloom_semijoin_leafs``: past this many inventoried leafs in
        one chain read, bloom candidate selection runs as ONE Spark
        job over the chain's ``_ZONES`` sidecars (only absent-verdict
        rows return to the driver) instead of the driver-side probe
        loop — the driver then never materializes the chain's bitmaps
        (~0.2% of table bytes), which is what caps the driver loop:
        the first-statement bitmap load is O(leafs) driver time
        (~30µs/leaf measured — ~30s and GBs of driver heap at 10^6
        leafs) while the probe job holds a flat ~2s floor. Measured
        at 15M rows (scripts/leafscale_probe.py, PERF.md r14): the
        driver loop is still 3x faster at 16384 leafs (0.72s vs 2.06s
        steady-state), so the default crossover sits at 32768 —
        semi-join is the 10^5-10^6-leaf insurance, not a mid-size
        win. Identical pruning decisions on both paths (same md5
        probe, pinned by tests/test_zones.py and the odd/even-seed
        differential soak)."""
        if keep_versions is not None and keep_versions < 1:
            raise EngineError("keep_versions must be >= 1 (or None)")
        if max_delta_chain < 1:
            raise EngineError("max_delta_chain must be >= 1")
        if id_buckets < 1:
            raise EngineError("id_buckets must be >= 1")
        if target_bucket_rows is not None and target_bucket_rows < 1:
            raise EngineError("target_bucket_rows must be >= 1 (or None)")
        self.spark = spark
        self.data_dir = data_dir
        self.keep_versions = keep_versions
        self.max_delta_chain = max_delta_chain
        self.id_buckets = id_buckets
        self.target_bucket_rows = target_bucket_rows
        self.zone_stats = zone_stats
        self.zone_bloom_rows = zone_bloom_rows
        self.bloom_semijoin_leafs = bloom_semijoin_leafs
        # Cached per-version sidecars: (kind, name, version) ->
        # parsed _FILES.json (or None for legacy dirs) / per-leaf
        # blooms. Version dirs are immutable once published, so the
        # caches are invalidated only where a dir can be REPLACED
        # (flush overwriting a crash orphan) or a table identity
        # recycled (DROP).
        self._inv_cache: dict[tuple[str, str, int], dict | None] = {}
        self._zone_cache: dict[tuple[str, str, int], dict] = {}
        # Statement-scoped zone-pruning audit: every pruned chain read
        # appends (kind, name, kept_leafs, total_leafs); each statement
        # resets it on entry (_execute_stmt), so it never outgrows one
        # statement's reads. EXPLAIN MATCH compiles its target and
        # prepends the recorded decisions to the plan text (guarded by
        # self._lock like all statement execution).
        self._prune_log: list[tuple[str, str, int, int, str]] = []
        # Chain/AS OF reads pass thousands of root paths; below this
        # threshold Spark launches a distributed listing job whose
        # per-task scheduling dwarfs the local-FS listing it does
        # (measured ~5s of a 5.6s read at 2048 leafs). Driver-side
        # sequential listing is ~0.3s at that width; manifest-built
        # reads don't list directories at all. Only raise the value
        # when it is still at Spark's default (32) — a user-tuned
        # setting on the shared session is theirs (ADVICE r13);
        # session.py sets the same 8192 for sessions we build.
        try:
            cur = spark.conf.get(
                "spark.sql.sources.parallelPartitionDiscovery.threshold"
            )
            if cur is None or int(cur) == 32:
                spark.conf.set(
                    "spark.sql.sources.parallelPartitionDiscovery.threshold",
                    "8192",
                )
        except Exception:
            pass
        self._lock = threading.RLock()
        self.tables: dict[tuple[str, str], _Table] = {}
        self.next_id = 1
        self._commit_offset = 0
        self._seq = 1  # global statement sequence shared by DDL + DML logs
        self._replaying = False
        self._commitlog: CommitLog | None = None
        # Session-scoped scratch root for merge-on-read mutation side
        # files (created lazily on the first UPDATE/DELETE).
        self._mut_tmp: str | None = None
        self._mut_n = 0

        if data_dir:
            os.makedirs(data_dir, exist_ok=True)
            if log_format is not None:
                # An explicit format that contradicts an existing log of
                # the OTHER format would silently strand that log's
                # unflushed records (replay reads only the requested
                # file) and misapply the manifest's commit_offset to the
                # wrong file's records. Refuse instead.
                from grapho_spark.engine.commitlog import log_exists

                other_fmt = "text" if log_format == "binary" else "binary"
                other_name = TEXT_NAME if log_format == "binary" else BINARY_NAME
                # log_exists also sees ROTATED logs whose active file
                # was just sealed (r8e segment rotation)
                if log_exists(data_dir, other_fmt):
                    raise EngineError(
                        f"data_dir already has a non-empty "
                        f"{'text' if log_format == 'binary' else 'binary'} "
                        f"commit log ({other_name}); refusing to open with "
                        f"log_format={log_format!r}"
                    )
            self._commitlog = CommitLog(
                data_dir,
                fmt=log_format or detect_format(data_dir),
                max_segment_bytes=log_segment_bytes,
            )
            self.catalog_store: CatalogStore | None = CatalogStore(
                os.path.join(data_dir, "catalog"), snapshot_every=snapshot_every
            )
            if replay:
                # Start from the last flush (catalog snapshot + table
                # versions are written together there, so they are
                # mutually consistent), then replay BOTH logs
                # interleaved by sequence number — schema-changing DDL
                # after unflushed DML must re-apply in original order.
                self.catalog, ev_offset = self.catalog_store.load_base()
                ev_expected = self._manifest_ev_offset()
                if ev_expected is not None and ev_offset != ev_expected:
                    # Crash window between the catalog snapshot and the
                    # engine-manifest publish: the snapshot ran ahead of
                    # (or, with a hand-rolled layout, behind) the
                    # manifest's consistent point. Rebuild the catalog
                    # at exactly the manifest's offset from the full
                    # event log so unflushed DML replays against the
                    # catalog it originally ran against.
                    self.catalog = self.catalog_store.load_at(ev_expected)
                    ev_offset = ev_expected
                self._load_manifest_and_tables()
                self._ensure_catalog_tables()
                self._replay_logs(ev_offset)
            else:
                self.catalog = self.catalog_store.load()
                self._load_manifest_and_tables()
                # The flushed manifest's seq ignores unflushed log
                # entries; writes through a replay=False engine must not
                # mint duplicate sequence numbers (a later replay=True
                # boot would then order equal-seq DDL before DML
                # regardless of actual statement order). Cheap line scan
                # of both log tails for the max seq already issued.
                self._seq = max(
                    self._seq,
                    self._max_logged_seq() + 1,
                    self.catalog_store.max_seq() + 1,
                )
        else:
            self.catalog_store = None
            self.catalog = Catalog()
        self._ensure_catalog_tables()

    def _ensure_catalog_tables(self) -> None:
        """Empty table states for catalog types with no persisted data."""
        for nt in self.catalog.nodes:
            self.tables.setdefault(("node", nt.name), _Table(node_struct(nt)))
        for et in self.catalog.edges:
            self.tables.setdefault(("edge", et.name), _Table(edge_struct(et)))

    # ------------------------------------------------------------ public

    def execute(self, script: str) -> list[StatementResult]:
        """Parse and execute a GQL script; first error aborts the rest."""
        stmts, errors = parse_script(script)
        if errors:
            raise EngineError("; ".join(str(e) for e in errors))
        return self.execute_statements(stmts)

    def execute_statements(self, stmts: list[ast.Stmt]) -> list[StatementResult]:
        """Execute pre-parsed statements (the TCP server parses once for
        error reporting and hands the list straight here)."""
        out: list[StatementResult] = []
        with self._lock:
            for stmt in stmts:
                out.append(self._execute_stmt(stmt))
        return out

    def node_df(self, name: str) -> DataFrame:
        if self.catalog.node(name) is None:
            raise EngineError(f"node type {name!r} does not exist")
        return self._merged_df(("node", name))

    def edge_df(self, name: str) -> DataFrame:
        if self.catalog.edge(name) is None:
            raise EngineError(f"edge type {name!r} does not exist")
        return self._merged_df(("edge", name))

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL over the graph: every node type is exposed as
        the view ``node_<Name>`` and every edge type as
        ``edge_<Name>`` (current-state snapshots of base+buffer at
        call time). This is the GQL<->SQL bridge: traversals in MATCH,
        analytics in full Spark SQL over the same tables — e.g.
        ``SELECT k, count(*) FROM node_P GROUP BY k`` or joins through
        ``edge_E``'s (_src, _dst) columns. Views refresh per call, so
        DML between calls is visible; names never clash with user
        fields (views live in Spark's catalog, not the engine's).

        Temp views are session-scoped, so two engines sharing one
        SparkSession would otherwise cross-read: this call pins the
        session's ``node_*``/``edge_*`` views to THIS engine's catalog
        (registers its own, drops stragglers left by other engines)
        under a process-wide lock, and Spark analyzes the query eagerly
        — the returned DataFrame stays bound to this engine's snapshot
        even if another engine calls sql() afterwards. A query naming
        another engine's type fails analysis instead of silently
        reading foreign data. Only views RECORDED as engine-registered
        (module registry ``_ENGINE_OWNED_VIEWS``) are ever dropped —
        a user's own ``node_``/``edge_``-prefixed temp view on the
        shared session is untouched.
        """
        with _SQL_VIEW_LOCK:
            owned = _ENGINE_OWNED_VIEWS.setdefault(self.spark, set())
            mine = {f"node_{nt.name}".lower() for nt in self.catalog.nodes} | {
                f"edge_{et.name}".lower() for et in self.catalog.edges
            }
            for stale in sorted(owned - mine):
                self.spark.catalog.dropTempView(stale)
                owned.discard(stale)
            for nt in self.catalog.nodes:
                self.node_df(nt.name).createOrReplaceTempView(f"node_{nt.name}")
            for et in self.catalog.edges:
                self.edge_df(et.name).createOrReplaceTempView(f"edge_{et.name}")
            owned.update(mine)
            return self.spark.sql(query)

    def bind_node_type(self, name: str, df: DataFrame, pk: str) -> None:
        """Register an existing DataFrame (e.g. a parquet fixture table)
        as a node type; ``pk`` becomes both the declared PRIMARY KEY and
        the string ``_id``. The PK gets its unique index, as CREATE NODE
        gives it, so INSERT rejects a duplicate key; and the type is
        marked ``pk_id``, so INSERT mints ``_id = str(pk)`` (a
        sequential id could collide with a bound row's key text). The
        catalog snapshot records the mark, so replay after a reopen
        mints the same ids. The PK must be an integer or a string
        column: only for those does Python's ``str`` spell a key as
        Spark's cast does (a double reads ``1.0E20`` in Spark, a bool
        ``true``). MATCH/UPDATE/DELETE compile to full Spark plans over
        the bound data, or run on the driver once a flushed table is
        small (``_small_scan``)."""
        with self._lock:
            if self.catalog.node(name) is not None:
                raise EngineError(f"node {name!r} already exists")
            if pk not in df.columns or not isinstance(
                df.schema[pk].dataType, _PK_ID_TYPES
            ):
                raise EngineError(
                    f"primary key {pk!r} of bound node type {name!r} must be "
                    f"an integer or string column"
                )
            fields = tuple(
                FieldSpec(
                    name=f.name,
                    type=_spark_to_type_spec(f.dataType),
                    not_null=False,
                    unique=f.name == pk,
                )
                for f in df.schema.fields
            )
            nt = NodeType(
                name=name,
                fields=fields,
                pk=pk,
                indexes=(IndexSpec(pk, unique=True),),
                pk_id=True,
            )
            self.catalog = self.catalog.with_node(nt)
            base = df.withColumn(ID_COLUMN, F.col(pk).cast("string")).select(
                ID_COLUMN, *[f.name for f in df.schema.fields]
            )
            self.tables[("node", name)] = _Table(base.schema, base=base)

    def bind_edge_type(
        self,
        name: str,
        df: DataFrame,
        src: str,
        dst: str,
        from_label: str,
        to_label: str,
    ) -> None:
        """Register an existing DataFrame (e.g. a parquet fixture) as an
        edge type between two bound/stored node types: ``src``/``dst``
        name the foreign-key columns whose values match the endpoint
        types' ``_id`` strings. Remaining columns become edge props.
        This is the bulk path that makes edge-pattern MATCH run as full
        Spark join plans over fixture data."""
        with self._lock:
            if self.catalog.edge(name) is not None:
                raise EngineError(f"edge {name!r} already exists")
            for lbl in (from_label, to_label):
                if self.catalog.node(lbl) is None:
                    raise EngineError(f"node type {lbl!r} does not exist")
            props = tuple(
                FieldSpec(
                    name=f.name, type=_spark_to_type_spec(f.dataType), not_null=False
                )
                for f in df.schema.fields
                if f.name not in (src, dst)
            )
            et = EdgeType(
                name=name,
                from_ep=Endpoint(from_label, Cardinality.MANY),
                to_ep=Endpoint(to_label, Cardinality.MANY),
                props=props,
            )
            self.catalog = self.catalog.with_edge(et)
            base = df.select(
                F.concat(
                    F.lit("edge_"),
                    F.col(src).cast("string"),
                    F.lit("_"),
                    F.col(dst).cast("string"),
                ).alias(ID_COLUMN),
                F.col(src).cast("string").alias(SRC_COLUMN),
                F.col(dst).cast("string").alias(DST_COLUMN),
                *[f.name for f in df.schema.fields if f.name not in (src, dst)],
            )
            self.tables[("edge", name)] = _Table(base.schema, base=base)

    def find(self, pattern: str, edge_type: str, node_type: str | None = None) -> DataFrame:
        """Motif search over a bound/stored edge type: GraphFrames-style
        chain patterns like ``"(a)-[e]->(b); (b)-[e2]->(c)"`` — the
        edge-pattern MATCH the reference's grammar cannot express
        (parser.go:685 hardcodes node-only elements; SURVEY.md §2.1 #13).

        Motif vertices bind to the label of the endpoint role they
        occupy: src positions join the edge's FROM-label table, dst
        positions the TO-label table (``node_type`` overrides both);
        edges use the stored (_src, _dst) columns.
        """
        from grapho_spark.analytics import find_motif

        et = self.catalog.edge(edge_type)
        if et is None:
            raise EngineError(f"edge type {edge_type!r} does not exist")

        def _nodes(label: str) -> DataFrame:
            return self.node_df(label).withColumnRenamed(ID_COLUMN, "id")

        if node_type or et.from_ep.label == et.to_ep.label:
            vertices: DataFrame | dict[str, DataFrame] = _nodes(
                node_type or et.from_ep.label
            )
        else:
            vertices = {"src": _nodes(et.from_ep.label), "dst": _nodes(et.to_ep.label)}
        edges = (
            self.edge_df(edge_type)
            .withColumnRenamed(SRC_COLUMN, "src")
            .withColumnRenamed(DST_COLUMN, "dst")
        )
        return find_motif(vertices, edges, pattern)

    def table_versions(self, kind: str, name: str) -> list[int]:
        """Flushed parquet versions available for time travel (ascending;
        empty for in-memory engines or never-flushed tables). Clamped
        to the table's COMMITTED version: a dir published by a flush
        that crashed before its manifest write (rename done, manifest
        not) is invisible until the re-run flush overwrites it —
        uncommitted state must never be servable via AS OF."""
        if not self.data_dir:
            return []
        tdir = os.path.join(self.data_dir, "tables", f"{kind}_{name}")
        try:
            entries = os.listdir(tdir)
        except FileNotFoundError:
            return []
        tab = self.tables.get((kind, name))
        cap = tab.version if tab is not None else None
        out = []
        for e in entries:
            if e.startswith("v") and e[1:].isdigit():
                v = int(e[1:])
                if cap is None or v <= cap:
                    out.append(v)
        return sorted(out)

    def node_df_at(self, name: str, version: int) -> DataFrame:
        """Time travel: the node table as of flush ``version``. The
        engine's copy-on-write flush keeps every version's parquet
        (v1, v2, ...), so old versions stay readable — Delta-style
        time travel on plain parquet. A delta (insert-only) version
        reads as its chain: latest full at-or-below it + deltas since
        (``_chain_paths``). Schema is read as-of the version's chain
        (an ALTER between versions shows the old shape; ALTER forces
        the next flush to start a fresh full chain)."""
        return self._df_at("node", name, version)

    def edge_df_at(self, name: str, version: int) -> DataFrame:
        """Time travel: the edge table as of flush ``version``."""
        return self._df_at("edge", name, version)

    def _is_delta_version(self, kind: str, name: str, v: int) -> bool:
        return os.path.exists(
            os.path.join(
                self.data_dir, "tables", f"{kind}_{name}", f"v{v}", "_DELTA"
            )
        )

    def _bucket_expr(self, n: int) -> Column:
        """Stable hash bucket of a row: pmod(xxhash64(_id), n).
        xxhash64 is a fixed algorithm (seed 42) computed JVM-side, so
        the same _id lands in the same bucket across sessions and
        versions; _id never changes after insert, so bucket membership
        is immutable FOR A GIVEN n — the invariant partition-pruned
        rewrites rest on. ``n`` is the table's live layout count
        (``_tab_bucket_n``); a full rewrite may grow it, rehashing
        everything it writes anyway."""
        return F.pmod(F.xxhash64(F.col(ID_COLUMN)), F.lit(n))

    def _tab_bucket_n(self, tab: _Table) -> int:
        """Bucket count of the table's LIVE layout: the tip chain's
        _BUCKETS.json ``n`` (tracked in tab.bucket_n), else the engine
        floor for tables with no bucket-complete version yet."""
        return tab.bucket_n if tab.bucket_n is not None else self.id_buckets

    def _grown_bucket_n(self, tab: _Table, rows: int) -> int:
        """Adaptive re-bucketing decision at a FULL rewrite: double the
        bucket count until rows/bucket <= target_bucket_rows (grow-only
        — never below the current layout or the id_buckets floor, so
        an already-grown table keeps its granularity across ALTER /
        compact even if it shrank). Doubling keeps the progression
        stable and the file-count overhead geometric, exactly the ANN
        index's cells ∝ √growth discipline applied to storage."""
        n = max(self._tab_bucket_n(tab), self.id_buckets)
        if self.target_bucket_rows is None:
            return n
        while rows > n * self.target_bucket_rows:
            n *= 2
        return n

    def _bucket_map(self, kind: str, name: str, v: int) -> dict | None:
        """The _BUCKETS.json manifest of a bucket-complete version:
        ``{"n": <id_buckets at write>, "map": {"<bucket>": <version
        owning its leaf dir>}}``. None for delta versions, legacy
        whole-dir versions, and missing versions."""
        try:
            with open(
                os.path.join(
                    self.data_dir,
                    "tables",
                    f"{kind}_{name}",
                    f"v{v}",
                    "_BUCKETS.json",
                ),
                encoding="utf-8",
            ) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _chain_versions(self, kind: str, name: str, version: int) -> list[int]:
        """Version numbers composing the table AS OF ``version``
        (ascending): the latest FULL version at-or-below it plus every
        delta version after that full. Delta dirs are self-describing
        via their _DELTA marker, so no manifest history is needed."""
        chain: list[int] = []
        for v in reversed(
            [v for v in self.table_versions(kind, name) if v <= version]
        ):
            chain.append(v)
            if not self._is_delta_version(kind, name, v):
                break
        return sorted(chain)

    def _chain_paths(self, kind: str, name: str, version: int) -> list[str]:
        """Parquet paths composing the table AS OF ``version`` (see
        ``_chain_versions``). Chains have one physical schema: any
        schema-changing or row-mutating operation forces the next
        flush to be a full rewrite; pure-insert chains are compacted
        by a forced full rewrite once they exceed ``max_delta_chain``
        deltas, so no read ever composes an unbounded path list.

        A bucket-complete version (one carrying _BUCKETS.json) expands
        to its bucket leaf dirs, each served from the version that
        last rewrote it — the read side of partition-pruned
        copy-on-write. Leaf dirs are read directly (no basePath), so
        Spark never infers the _gbkt partition column and the physical
        schema stays exactly the table schema."""
        base_dir = os.path.join(self.data_dir, "tables", f"{kind}_{name}")
        paths: list[str] = []
        for v in self._chain_versions(kind, name, version):
            bm = self._bucket_map(kind, name, v)
            if bm is None:
                paths.append(os.path.join(base_dir, f"v{v}"))
            else:
                paths.extend(
                    os.path.join(
                        base_dir, f"v{owner}", f"{BUCKET_COLUMN}={k}"
                    )
                    for k, owner in sorted(
                        bm["map"].items(), key=lambda kv: int(kv[0])
                    )
                )
        return paths

    def _write_sidecars(
        self, kind: str, name: str, tab: _Table, staging: str
    ) -> None:
        """Write the version's _FILES.json inventory (+ zone stats;
        one pyarrow footer pass) and, past the bloom row gate, the
        per-leaf _ZONES blooms over the type's point-lookup fields
        (one column-pruned JVM pass). Runs against the staging dir so
        the atomic rename publishes data + sidecars together."""
        inv = zn.scan_staging(staging, tab.schema)
        zn.write_inventory(staging, inv)
        total = sum(m["rows"] for m in inv["leafs"].values())
        if total >= self.zone_bloom_rows:
            fields = self._bloom_zone_fields(kind, name, tab)
            if fields:
                zn.write_zone_blooms(
                    self.spark, staging, tab.schema, inv, fields
                )

    def _bloom_zone_fields(
        self, kind: str, name: str, tab: _Table
    ) -> list[str]:
        """Fields worth a per-leaf bloom: the PK and UNIQUE-indexed
        fields (the point-predicate surface), restricted to types
        whose Spark/Python string forms agree (the shared md5 hash
        convention of operators/bloom.py)."""
        from grapho_spark.operators.bloom import SparkBloom

        if kind != "node":
            return []
        nt = self.catalog.node(name)
        if nt is None:
            return []
        out: list[str] = []
        for fname in [nt.pk, *(i.field for i in nt.indexes if i.unique)]:
            if (
                fname
                and fname not in out
                and fname in tab.schema.fieldNames()
                and SparkBloom.supports(tab.schema[fname].dataType)
            ):
                out.append(fname)
        return out

    def _inventory(self, kind: str, name: str, version: int) -> dict | None:
        key = (kind, name, version)
        if key not in self._inv_cache:
            self._inv_cache[key] = zn.load_inventory(
                os.path.join(
                    self.data_dir, "tables", f"{kind}_{name}", f"v{version}"
                )
            )
        return self._inv_cache[key]

    def _leaf_blooms(
        self, kind: str, name: str, version: int, leaf: str
    ) -> dict:
        """field -> bloom tuple for one leaf of a version (loaded and
        regrouped once per version, then cached)."""
        key = (kind, name, version)
        grouped = self._zone_cache.get(key)
        if grouped is None:
            flat = zn.load_zone_blooms(
                os.path.join(
                    self.data_dir, "tables", f"{kind}_{name}", f"v{version}"
                )
            )
            grouped = {}
            for (lf, fld), bloom in flat.items():
                grouped.setdefault(lf, {})[fld] = bloom
            self._zone_cache[key] = grouped
        return grouped.get(leaf, {})

    def _drop_sidecar_caches(self, kind: str, name: str) -> None:
        """Purge cached sidecars of a table whose identity is being
        recycled (DROP; a later CREATE restarts version numbering, so
        stale (kind, name, v) entries would serve the old table)."""
        for cache in (self._inv_cache, self._zone_cache):
            for k in [k for k in cache if k[0] == kind and k[1] == name]:
                del cache[k]

    def _chain_files(
        self,
        kind: str,
        name: str,
        version: int,
        schema: ST.StructType | None = None,
        prune_groups: list | None = None,
    ) -> _Files:
        """The files of the table AS OF ``version``, selected from the
        per-version file manifests: explicit file paths (no directory
        listing — the 100-TB metadata fix, VERDICT r12 #1) with the
        recorded physical schema (no footer inference) and their row
        count. A chain member or leaf without an inventory (pre-r13
        dirs) falls back to its dir path (rows unknown);
        ``prune_groups`` (compiled WHERE, engine/zones.py) drops leafs
        whose zone stats/bloom prove no base row can match, and a
        pruned selection appends its decision to ``_prune_log``."""
        base_dir = os.path.join(self.data_dir, "tables", f"{kind}_{name}")
        paths: list[str] = []
        rows: int | None = 0
        pruned_any = False
        kept_leafs = total_leafs = 0
        read_schema = schema
        chain = self._chain_versions(kind, name, version)
        if read_schema is None:
            # the chain has ONE physical schema; the newest member
            # with an inventory recorded it at write time
            for v in reversed(chain):
                inv = self._inventory(kind, name, v)
                if inv is not None:
                    read_schema = ST.StructType.fromJson(inv["schema"])
                    break
        records: list[tuple[int, str, str, dict | None]] = []
        for v in chain:
            bm = self._bucket_map(kind, name, v)
            if bm is None:
                entries = [(v, zn.ROOT_LEAF, os.path.join(base_dir, f"v{v}"))]
            else:
                entries = [
                    (
                        int(o),
                        k,
                        os.path.join(base_dir, f"v{o}", f"{BUCKET_COLUMN}={k}"),
                    )
                    for k, o in sorted(
                        bm["map"].items(), key=lambda kv: int(kv[0])
                    )
                ]
            for owner, leaf_key, ldir in entries:
                inv = self._inventory(kind, name, owner)
                meta = None if inv is None else inv["leafs"].get(leaf_key)
                records.append((owner, leaf_key, ldir, meta))
        # Bloom candidate selection: below bloom_semijoin_leafs the
        # driver probes cached per-version bitmaps; above it, ONE
        # distributed job probes the _ZONES sidecars where they live
        # and only absent-verdicts come back (probed is then the
        # verdict map, possibly empty = stats-only pruning).
        probed: dict | None = None
        if prune_groups is not None:
            total_leafs = sum(1 for r in records if r[3] is not None)
            if total_leafs > self.bloom_semijoin_leafs:
                probed = {}
                probes = zn.collect_eq_probes(prune_groups)
                if probes:
                    zdirs = [
                        (owner, zp)
                        for owner in sorted(
                            {r[0] for r in records if r[3] is not None}
                        )
                        if os.path.exists(
                            zp := os.path.join(
                                base_dir, f"v{owner}", zn.ZONES_NAME
                            )
                        )
                    ]
                    if zdirs:
                        probed = zn.probe_zone_blooms_distributed(
                            self.spark, zdirs, probes
                        )
        for owner, leaf_key, ldir, meta in records:
            if meta is None:
                paths.append(ldir)  # legacy dir: list, never prune
                rows = None
                continue
            if prune_groups is not None:
                stats = meta.get("_stats")
                if stats is None:
                    stats = meta["_stats"] = zn.decode_leaf_stats(
                        meta,
                        read_schema
                        if read_schema is not None
                        else ST.StructType([]),
                    )
                blooms = (
                    probed.get((owner, leaf_key), {})
                    if probed is not None
                    else self._leaf_blooms(kind, name, owner, leaf_key)
                )
                if not zn.leaf_may_match(
                    prune_groups, stats, blooms, meta["rows"]
                ):
                    pruned_any = True
                    continue
                kept_leafs += 1
            paths.extend(os.path.join(ldir, f[0]) for f in meta["files"])
            if rows is not None:
                rows += meta["rows"]
        if prune_groups is not None and total_leafs > 0:
            # total_leafs == 0 means every element was legacy/no-
            # inventory (nothing was prunable) — an audit line reading
            # "kept 0/0" would suggest everything was pruned (ADVICE
            # r13), so only prunable reads are recorded. The mode
            # names which candidate-selection path ran (r14): the
            # driver bitmap loop or the distributed _ZONES probe job.
            self._prune_log.append(
                (
                    kind,
                    name,
                    kept_leafs,
                    total_leafs,
                    "job" if probed is not None else "driver",
                )
            )
        return _Files(paths, rows, read_schema, pruned_any)

    def _read_files(self, kind: str, name: str, sel: _Files) -> DataFrame:
        """Spark's read of a file selection (an empty selection reads
        as an empty frame with the best-known schema)."""
        if not sel.paths:
            tab = self.tables.get((kind, name))
            empty_schema = (
                sel.schema
                if sel.schema is not None
                else (tab.schema if tab is not None else ST.StructType([]))
            )
            return self._local_frame([], empty_schema)
        reader = self.spark.read
        if sel.schema is not None:
            reader = reader.schema(sel.schema)
        return reader.parquet(*sel.paths)

    def _chain_read(
        self,
        kind: str,
        name: str,
        version: int,
        schema: ST.StructType | None = None,
        prune_groups: list | None = None,
    ) -> tuple[DataFrame, bool]:
        """The table AS OF ``version`` read by Spark from its file
        selection (``_chain_files``). Returns (df, pruned_any)."""
        sel = self._chain_files(kind, name, version, schema, prune_groups)
        return self._read_files(kind, name, sel), sel.pruned

    def _df_at(
        self,
        kind: str,
        name: str,
        version: int,
        prune_groups: list | None = None,
    ) -> DataFrame:
        if not self.data_dir:
            raise EngineError("time travel needs a durable engine (data_dir)")
        # membership via table_versions, not raw path existence: an
        # orphan dir published by a crashed flush (rename done,
        # manifest not) sits above the committed version and must not
        # be servable as history
        have = self.table_versions(kind, name)
        if version not in have:
            raise EngineError(
                f"{kind} {name!r} has no version {version} "
                f"(available: {have or 'none'})"
            )
        # A version dir kept past retention ONLY because later maps
        # still reference some of its bucket leaf dirs is leaf-GC'd
        # (_LEAF_GC marker): its unreferenced leafs are gone, so a
        # direct AS OF read would silently return partial state.
        # Refuse with the same shape as a pruned version.
        if os.path.exists(
            os.path.join(
                self.data_dir, "tables", f"{kind}_{name}", f"v{version}",
                "_LEAF_GC",
            )
        ):
            servable = [
                v
                for v in have
                if not os.path.exists(
                    os.path.join(
                        self.data_dir, "tables", f"{kind}_{name}",
                        f"v{v}", "_LEAF_GC",
                    )
                )
            ]
            raise EngineError(
                f"{kind} {name!r} version {version} was retained only as "
                f"a bucket-leaf dependency of newer versions and is no "
                f"longer directly servable (leaf-GC'd by retention; "
                f"servable: {servable or 'none'})"
            )
        # manifest-built read: explicit files + recorded schema when
        # the chain carries inventories, dir-listing fallback when not
        # (an empty chain — DELETE emptied the table before that flush
        # — reads as an empty frame with the best-known schema)
        return self._chain_read(kind, name, version, prune_groups=prune_groups)[0]

    def history(self) -> list[dict]:
        """Catalog version history (time-travel audit) reconstructed
        from the DDL event log; empty for in-memory engines."""
        if not self.catalog_store:
            return []
        return self.catalog_store.history()

    def flush(self, retain_log: bool = False) -> None:
        """Persist buffered rows / materialized tables as new parquet
        versions and advance the manifest. Insert-only changes write
        an O(delta) APPEND version (r9); mutated/migrated tables write
        the full copy-on-write rewrite, which doubles as chain
        compaction.

        ``retain_log=True`` additionally drops sealed commit-log
        segments wholly below the now-durable manifest offset (needs
        ``log_segment_bytes``; a no-op on single-file logs). EXPLICIT
        opt-in: dropped records become unreadable, so coordinate with
        CDC/export consumers first — Kafka-retention semantics, and
        the CDC exporter fails loudly if retention outran it."""
        if not self.data_dir:
            return
        with self._lock:
            if self._commitlog is not None:
                self._commitlog.sync()  # group-fsync boundary: flush is durable
            versions: dict[str, int] = {}
            for (kind, name), tab in self.tables.items():
                key = f"{kind}_{name}"
                if (
                    tab.buffer
                    or tab.dirty
                    or tab.base_dirty  # ALTER migrates base without setting dirty
                    or tab.base is None
                    or tab.version == 0
                ):
                    # INSERT-only changes on an already-flushed table
                    # write an O(delta) APPEND version (just the
                    # buffered rows + a _DELTA marker making the chain
                    # self-describing on disk) instead of the O(table)
                    # copy-on-write rewrite — appends dominate a
                    # production ingest workload, so the common flush
                    # is delta-sized. UPDATE/DELETE/ALTER set
                    # base_dirty and keep the full rewrite (which also
                    # acts as compaction of any prior delta chain).
                    delta = (
                        tab.base is not None
                        and tab.version > 0
                        and bool(tab.buffer)
                        and not tab.base_dirty
                        # Auto-compaction: a pure-ingest workload never
                        # mutates, so without a cap the chain (and the
                        # per-read path list, and retention's protected
                        # set) would grow one dir per flush forever.
                        # Once the live chain carries max_delta_chain
                        # deltas, the next flush is a full compacting
                        # rewrite — Delta/Iceberg-style OPTIMIZE,
                        # amortized O(table / max_delta_chain) per flush.
                        and len(self._chain_versions(kind, name, tab.version))
                        <= self.max_delta_chain
                    )
                    prev = tab.version
                    tab.version += 1
                    path = os.path.join(self.data_dir, "tables", key, f"v{tab.version}")
                    # Staged publish: write parquet AND the _DELTA /
                    # _BUCKETS.json markers into v<N>.staging, then
                    # rename into place. A crash anywhere before the
                    # rename leaves only a .staging dir, which
                    # table_versions/_chain_paths never read — so a
                    # half-written version (or a delta missing its
                    # marker, which a chain read would misclassify as
                    # FULL) is never servable.
                    staging = path + ".staging"
                    shutil.rmtree(staging, ignore_errors=True)
                    partial_written = False
                    if delta:
                        self._buffer_df(tab).write.mode("overwrite").parquet(
                            staging
                        )
                        with open(os.path.join(staging, "_DELTA"), "w") as mk:
                            mk.write("delta\n")
                    else:
                        partial_written = self._write_bucketed(
                            kind, name, tab, prev, staging
                        )
                    if self.zone_stats:
                        self._write_sidecars(kind, name, tab, staging)
                    # a complete v-dir here is an orphan of a flush that
                    # crashed after rename but before its manifest
                    # publish (never committed, hidden by the
                    # table_versions clamp) — superseded by this rewrite
                    shutil.rmtree(path, ignore_errors=True)
                    os.replace(staging, path)
                    # the replace may have overwritten an orphan dir a
                    # prior crashed flush left under the same version
                    # number — any sidecar cached from it is stale
                    self._inv_cache.pop((kind, name, tab.version), None)
                    self._zone_cache.pop((kind, name, tab.version), None)
                    # Mutation side files now folded into the published
                    # version: deletable once no lazy plan references
                    # them (immediately on a fresh chain rebuild below;
                    # deferred past keep-composed refreshes, which keep
                    # reading them).
                    side_paths = [
                        ref for op, ref in tab.mut_parts if op != "fold"
                    ]
                    if delta and tab.base is not None:
                        # O(delta) base refresh: the new state is the
                        # prior chain read (tab.base, untouched by
                        # pure inserts) UNION the one new delta dir —
                        # composing avoids relisting every bucket leaf
                        # dir of the chain per ingest flush (measured
                        # 5.4s/flush at 2048 leafs in the x100 probe,
                        # pure driver-side path listing for a 1-row
                        # write). The union depth is bounded by
                        # max_delta_chain; the next full rewrite
                        # rebuilds from a fresh listing below.
                        tab.base = tab.base.union(
                            self.spark.read.schema(tab.schema).parquet(path)
                        )
                        tab.base_layers += 1
                    else:
                        # Fresh chain rebuild: explicit-file manifest
                        # read when inventories exist (no dir
                        # listing), dir-path fallback otherwise. A
                        # keep-composed branch used to reuse the
                        # pre-flush merge-on-read plan here to dodge
                        # a ~5s O(leafs) dir relist; the r13
                        # manifests removed the relist and the r14
                        # measurement (scripts/keepcomposed_probe.py,
                        # PERF.md) showed fresh strictly faster at
                        # x10 AND x100 (flush 5.9s vs 9.0s, post-
                        # flush count 0.7s vs 2.1s at 15M rows — the
                        # composed plan's depth costs more than the
                        # manifest read), so the branch was deleted
                        # (VERDICT r13 #4) and every partial-rewrite
                        # flush now also reclaims its side files
                        # eagerly.
                        tab.base, _ = self._chain_read(
                            kind, name, tab.version, schema=tab.schema
                        )
                        tab.base_layers = 0
                        # nothing references the folded side files
                        # anymore — reclaim this table's scratch
                        for sp in side_paths:
                            shutil.rmtree(sp, ignore_errors=True)
                    tab.buffer = []
                    tab.dirty = False
                    tab.base_dirty = False
                    tab.touched_buckets = set()
                    tab.mut_parts = []
                versions[key] = tab.version
            self._commit_offset = self._count_commit_lines()
            # Snapshot the catalog BEFORE publishing the engine manifest:
            # the manifest advances commit_offset past the flushed DML, so
            # every type it references must already be recoverable from
            # the snapshot. The reverse order had a crash window where
            # types created since the last snapshot were skipped at boot
            # (schema None in _load_manifest_and_tables) while their DML
            # sat below commit_offset — silently losing flushed rows.
            ev_offset = 0
            if self.catalog_store:
                self.catalog_store.write_snapshot(self.catalog)
                ev_offset = self.catalog_store.snap_offset()
            manifest = {
                "next_id": self.next_id,
                "commit_offset": self._commit_offset,
                # The catalog event offset this manifest is consistent
                # with: boot reconciles a snapshot that ran AHEAD of the
                # manifest (crash between the two writes) back to this
                # offset via full event replay, restoring the invariant
                # that unflushed DML replays against the same catalog it
                # originally ran against.
                "ev_offset": ev_offset,
                "seq": self._seq,
                "versions": versions,
            }
            tmp = self._manifest_path() + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._manifest_path())
            # Retention GC runs strictly AFTER the manifest publish: a
            # crash mid-prune can only leave extra old versions behind
            # (re-pruned next flush), never touch a version the
            # manifest references.
            if self.keep_versions is not None:
                self._prune_versions()
            if retain_log and self._commitlog is not None:
                # same publish-then-GC discipline for the LOG: only
                # sealed segments wholly below the now-durable
                # commit_offset are dropped, so a crash mid-retention
                # leaves extra old segments, never a replay gap
                self._commitlog.retain_below(self._commit_offset)

    def compact(self, kind: str | None = None, name: str | None = None) -> None:
        """Explicit OPTIMIZE: force a FULL compacting rewrite of the
        selected flushed tables (default: every flushed table) and run
        the flush. Collapses delta chains and bucket owner maps into
        one fresh bucket-complete version, after which retention GC
        can free every older dir nothing references. The automatic
        triggers (``max_delta_chain`` on insert chains, the
        owner-spread cap on partial rewrites) bound growth on their
        own; this reclaims immediately — the maintenance-window job a
        100 TB deployment schedules off-peak, exactly Delta/Iceberg
        OPTIMIZE."""
        with self._lock:
            for (k, n), tab in self.tables.items():
                if kind is not None and k != kind:
                    continue
                if name is not None and n != name:
                    continue
                if tab.version == 0:
                    continue  # never flushed: nothing to compact
                tab.base_dirty = True
                tab.touched_buckets = None  # None = force the full path
            self.flush()

    def _prune_versions(self) -> None:
        """Delete flushed parquet version dirs older than the retention
        window (``keep_versions`` most recent per table). Time travel
        to a pruned version raises the normal no-such-version error,
        which lists what survives. A FULL version (and intermediate
        deltas) that a retained version's chain depends on is never
        pruned, even when it falls outside the window — pruning it
        would corrupt every retained version built on it.

        A version that survives ONLY because retained _BUCKETS.json
        maps still reference some of its bucket leaf dirs is pruned
        LEAF-GRANULARLY (r11): the leafs no retained read references
        are deleted and a ``_LEAF_GC`` marker makes the now-partial
        dir unservable as a direct AS OF anchor (it was never part of
        servable history after falling out of the window — only its
        referenced leafs are). Without this, a mutation-heavy
        workload pinned every historical version dir WHOLE as long as
        one of its buckets stayed un-rewritten — unbounded protected
        storage the r10 owner-spread cap only bounds in dir count,
        not bytes. The marker is written BEFORE any leaf is deleted,
        so a crash mid-GC can only leave extra leafs behind a marker
        that already refuses direct reads, never a silently-partial
        servable version."""
        for (kind, name), tab in self.tables.items():
            all_vs = self.table_versions(kind, name)
            base_dir = os.path.join(self.data_dir, "tables", f"{kind}_{name}")
            # whole dirs every retained read traverses (chain members:
            # full anchors + deltas), and the exact (owner, bucket)
            # leaf pairs those reads reference through bucket maps
            needed: set[int] = set()
            needed_leafs: set[tuple[int, int]] = set()
            for v in all_vs:
                if v > tab.version - self.keep_versions:
                    for c in self._chain_versions(kind, name, v):
                        needed.add(c)
                        bm = self._bucket_map(kind, name, c)
                        if bm is not None:
                            for k, o in bm["map"].items():
                                needed_leafs.add((int(o), int(k)))
            owners = {o for o, _ in needed_leafs}
            for v in all_vs:
                if v > tab.version - self.keep_versions or v in needed:
                    continue  # in-window or chain-needed: keep whole
                vdir = os.path.join(base_dir, f"v{v}")
                if v not in owners:
                    shutil.rmtree(vdir, ignore_errors=True)
                    continue
                # Owner-only survivor: shed the unreferenced leafs.
                # The marker is unconditional — even with nothing to
                # shed, the dir is past retention and its OWN map may
                # reference sub-owners that were pruned, so it is no
                # longer directly-servable history either way.
                keep = {k for o, k in needed_leafs if o == v}
                victims = [
                    e
                    for e in os.listdir(vdir)
                    if e.startswith(f"{BUCKET_COLUMN}=")
                    and int(e.split("=", 1)[1]) not in keep
                ]
                marker = os.path.join(vdir, "_LEAF_GC")
                if not os.path.exists(marker):
                    with open(marker, "w") as mk:
                        mk.write("leaf-gc\n")
                for e in victims:
                    shutil.rmtree(os.path.join(vdir, e), ignore_errors=True)

    def _id_buckets(self, ids: list[str], n: int) -> list[int]:
        """``pmod(xxhash64(_id), n)`` of each driver-held id, in order.
        Spark computes the hash (it must be the JVM xxhash64, so bucket
        membership cannot drift from what flush writes), but over a
        local relation: the projection folds into it on the driver, so
        no job runs."""
        if not ids:
            return []
        frame = self._local_frame([(i,) for i in ids], _ID_SCHEMA)
        return [r[0] for r in frame.select(self._bucket_expr(n)).collect()]

    def _buffer_buckets(self, tab: _Table) -> set[int]:
        """Hash buckets of the driver-held buffer rows (zero jobs, see
        ``_id_buckets``)."""
        return set(
            self._id_buckets(
                [r[ID_COLUMN] for r in tab.buffer], self._tab_bucket_n(tab)
            )
        )

    def _write_bucketed(
        self, kind: str, name: str, tab: _Table, prev: int, staging: str
    ) -> bool:
        """Write a bucket-complete (non-delta) version into ``staging``:
        the table laid out as ``_gbkt=<k>`` hash-bucket leaf dirs plus
        a _BUCKETS.json owner map.

        When every mutated bucket since the last flush is known
        (UPDATE/DELETE recorded them; no ALTER; the prior tip is
        bucket-complete under the table's live bucket count), only
        those buckets are rewritten and the rest INHERIT their leaf
        dirs from the prior map — mutation flush I/O becomes
        O(touched · rows/bucket) instead of O(table), the
        partition-pruned copy-on-write the O(delta) insert path
        already gets for appends. Anything else (legacy whole-dir tip,
        delta tip needing compaction, schema migration, first flush)
        falls back to the full rewrite, which also migrates the layout
        and — with ``target_bucket_rows`` set — GROWS the bucket count
        to fit the table's current size (adaptive re-bucketing), so
        per-bucket rewrite cost stays bounded as the table grows."""
        parent = self._bucket_map(kind, name, prev) if prev > 0 else None
        partial = (
            tab.base_dirty
            and tab.touched_buckets is not None
            and bool(tab.touched_buckets)
            and parent is not None
            and parent.get("n") == self._tab_bucket_n(tab)
            and not self._is_delta_version(kind, name, prev)
        )
        touched = {int(b) for b in tab.touched_buckets or ()}
        if partial and tab.buffer:
            # post-mutation inserts ride the same partial rewrite;
            # their buckets come from a buffer-sized job, never a
            # table scan
            touched |= self._buffer_buckets(tab)
        if partial:
            # Owner-spread cap (the partial-rewrite twin of
            # max_delta_chain): each partial rewrite can leave the map
            # referencing one more version dir, and retention must keep
            # every referenced dir whole — unbounded spread would mean
            # unbounded protected storage and path-list diversity on a
            # mutation-dominated workload. Once a rewrite would leave
            # more than max_delta_chain owner versions, compact with a
            # full rewrite instead.
            inherited = {
                int(o)
                for k, o in parent["map"].items()
                if int(k) not in touched
            }
            if len(inherited) + 1 > self.max_delta_chain:
                partial = False
        if partial and tab.mut_parts:
            # Merge-on-read flush: start from ONLY the touched
            # buckets' leaf dirs of the parent layout and replay the
            # pending mutation side files onto them — the read side of
            # a mutation flush is O(touched · rows/bucket + matched),
            # never an O(table) scan of the composed view. Buckets
            # absent from the parent map held no rows (folded inserts
            # may create them; those rows ride in via the fold/buffer
            # frames). A rebase layer restarts from a full snapshot —
            # the _gbkt filter below still prunes the write to touched.
            base_dir = os.path.join(self.data_dir, "tables", f"{kind}_{name}")
            leaf_paths = [
                os.path.join(
                    base_dir,
                    f"v{parent['map'][str(b)]}",
                    f"{BUCKET_COLUMN}={b}",
                )
                for b in sorted(touched)
                if str(b) in parent["map"]
            ]
            start = (
                self.spark.read.schema(tab.schema).parquet(*leaf_paths)
                if leaf_paths
                else self._local_frame([], tab.schema)
            )
            df = self._compose_mut_parts(tab, start)
            buf_df = self._buffer_df(tab)
            if buf_df is not None:
                df = df.unionByName(buf_df)
        else:
            df = self._merged_df((kind, name))
        if partial:
            # a partial rewrite NEVER re-buckets: it must hash with the
            # exact n of the layout it inherits leaf dirs from
            n = int(parent["n"])
        else:
            # full rewrites are the re-bucketing point: when adaptive
            # growth is on, one count (parquet-footer-cheap on the
            # flushed chain; the rewrite scans the table anyway)
            # decides the new layout's bucket count
            n = self._grown_bucket_n(
                tab,
                df.count() if self.target_bucket_rows is not None else 0,
            )
        df = df.withColumn(BUCKET_COLUMN, self._bucket_expr(n))
        if partial:
            df = df.filter(F.col(BUCKET_COLUMN).isin(sorted(touched)))
        # one task per bucket keeps leaf dirs to O(1) files; at cluster
        # scale the repartition is the standard dynamic-partition write.
        # A PARTIAL rewrite sizes the shuffle by the touched-bucket
        # count, not the layout width — a point mutation at n=2048
        # otherwise schedules 2047 empty tasks (measured ~6s of pure
        # scheduling at the x100 probe). Bucket collisions within a
        # task are fine: partitionBy still splits them into their own
        # leaf dirs.
        num = max(len(touched), 1) if partial else n
        (
            df.repartition(num, F.col(BUCKET_COLUMN))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COLUMN)
            .parquet(staging)
        )
        present = {
            int(e.split("=", 1)[1])
            for e in os.listdir(staging)
            if e.startswith(f"{BUCKET_COLUMN}=")
        }
        if partial:
            bmap = dict(parent["map"])
            for k in touched:
                if k in present:
                    bmap[str(k)] = tab.version
                else:
                    # the rewrite emptied this bucket (DELETE took its
                    # last row) — dropping the entry is what deletes it
                    bmap.pop(str(k), None)
        else:
            bmap = {str(k): tab.version for k in sorted(present)}
        with open(
            os.path.join(staging, "_BUCKETS.json"), "w", encoding="utf-8"
        ) as f:
            json.dump({"n": n, "map": bmap}, f)
        # the new layout's n becomes the table's live bucket count —
        # every later touched-bucket recording and partial rewrite
        # hashes with it
        tab.bucket_n = n
        return partial

    # ------------------------------------------------------- persistence

    def _manifest_path(self) -> str:
        return os.path.join(self.data_dir, "ENGINE-MANIFEST.json")

    def commit_records(self) -> list[str]:
        """RETAINED complete commit-log records (format-agnostic;
        torn/corrupt tails excluded) — the read surface for replay and
        CDC export. Record i has GLOBAL index commit_base() + i (log
        retention drops whole sealed segments from the head)."""
        if self._commitlog is None:
            return []
        return self._commitlog.records()

    def commit_base(self) -> int:
        """Global index of the first retained commit-log record."""
        return 0 if self._commitlog is None else self._commitlog.base_offset()

    def _count_commit_lines(self) -> int:
        return self.commit_base() + len(self.commit_records())

    def _max_logged_seq(self) -> int:
        """Max sequence number present in the commit log (0 if none) —
        tolerant of corrupt records, which carry no usable seq anyway."""
        mx = 0
        for line in self.commit_records():
            try:
                s = json.loads(line).get("seq")
            except (json.JSONDecodeError, AttributeError):
                continue
            if isinstance(s, int) and s > mx:
                mx = s
        return mx

    def _manifest_ev_offset(self) -> int | None:
        """Catalog event offset recorded at the last flush. No manifest
        at all means nothing was ever flushed — the consistent point is
        offset 0 (covers a crash during the FIRST flush, after the
        catalog snapshot but before the manifest publish). A manifest
        without the field (legacy layout) returns None: trust its
        snapshot as-is."""
        try:
            with open(self._manifest_path(), encoding="utf-8") as f:
                v = json.load(f).get("ev_offset")
            return v if isinstance(v, int) else None
        except FileNotFoundError:
            return 0

    def _load_manifest_and_tables(self) -> None:
        try:
            with open(self._manifest_path(), encoding="utf-8") as f:
                manifest = json.load(f)
        except FileNotFoundError:
            return
        self.next_id = manifest.get("next_id", 1)
        self._commit_offset = manifest.get("commit_offset", 0)
        self._seq = manifest.get("seq", 1)
        for key, version in manifest.get("versions", {}).items():
            kind, name = key.split("_", 1)
            schema = None
            if kind == "node":
                nt = self.catalog.node(name)
                schema = node_struct(nt) if nt else None
            else:
                et = self.catalog.edge(name)
                schema = edge_struct(et) if et else None
            if schema is None or version == 0:
                continue
            path = os.path.join(self.data_dir, "tables", key, f"v{version}")
            if os.path.exists(path):
                chain = self._chain_paths(kind, name, version)
                base = (
                    self.spark.read.schema(schema).parquet(*chain)
                    if chain
                    else self._local_frame([], schema)
                )
                # restore the live layout's bucket count from the tip
                # chain's bucket-complete version (its first element),
                # so reopen continues partial rewrites at the GROWN
                # granularity instead of resetting to the engine floor
                cvs = self._chain_versions(kind, name, version)
                bm = self._bucket_map(kind, name, cvs[0]) if cvs else None
                self.tables[(kind, name)] = _Table(
                    schema,
                    base=base,
                    version=version,
                    bucket_n=int(bm["n"]) if bm else None,
                )

    def _read_commit_entries(self) -> list[tuple[int | None, ast.Stmt]]:
        """Decode commit-log lines past the manifest offset as
        (seq, stmt), stopping at the first corrupt line. Accepts both
        the seq-wrapped format and bare statement dicts (pre-seq logs)."""
        out: list[tuple[int | None, ast.Stmt]] = []
        for line in self.commit_records()[max(0, self._commit_offset - self.commit_base()) :]:
            try:
                obj = json.loads(line)
                if isinstance(obj, dict) and "stmt" in obj and "__type__" not in obj:
                    out.append((obj.get("seq"), _from_jsonable(obj["stmt"])))
                else:
                    out.append((None, _from_jsonable(obj)))
            except (json.JSONDecodeError, KeyError, TypeError):
                break  # corruption tolerance: stop, keep best effort
        return out

    def _replay_logs(self, ev_offset: int) -> None:
        """Replay unflushed DDL + DML interleaved by global sequence
        number, preserving original statement order. Entries without a
        seq (pre-seq logs) keep the legacy DDL-before-DML order. The
        first statement that fails to apply stops replay (same
        best-effort contract as the corruption path)."""
        assert self.catalog_store is not None
        ddl = self.catalog_store.read_events(ev_offset)
        dml = self._read_commit_entries()
        items = sorted(
            [(s if s is not None else 0, 0, i) for i, (s, _) in enumerate(ddl)]
            + [(s if s is not None else 0, 1, i) for i, (s, _) in enumerate(dml)]
        )
        self._replaying = True
        try:
            for seq_key, src, idx in items:
                seq, stmt = (ddl if src == 0 else dml)[idx]
                try:
                    self._execute_stmt(stmt)
                except EngineError:
                    break
                if seq is not None and seq >= self._seq:
                    self._seq = seq + 1
        finally:
            self._replaying = False

    def _next_seq(self) -> int:
        s = self._seq
        self._seq = s + 1
        return s

    def _log_dml(self, stmt: ast.Stmt) -> None:
        if not self.data_dir or self._replaying:
            return
        entry = {"seq": self._next_seq(), "stmt": _to_jsonable(stmt)}
        self._commitlog.append(json.dumps(entry, separators=(",", ":")))

    # -------------------------------------------------------- dispatch

    def _execute_stmt(self, stmt: ast.Stmt) -> StatementResult:
        # statement-scoped: the zone-pruning audit never accumulates
        # across statements (a long OLTP session would otherwise grow
        # one tuple per pruned read forever)
        self._prune_log.clear()
        if isinstance(
            stmt,
            (
                ast.CreateNodeStmt,
                ast.CreateEdgeStmt,
                ast.AlterNodeStmt,
                ast.AlterEdgeStmt,
                ast.DropNodeStmt,
                ast.DropEdgeStmt,
            ),
        ):
            return self._execute_ddl(stmt)
        if isinstance(stmt, ast.InsertNodeStmt):
            return self._insert_node(stmt)
        if isinstance(stmt, ast.InsertEdgeStmt):
            return self._insert_edge(stmt)
        if isinstance(stmt, (ast.UpdateNodeStmt, ast.UpdateEdgeStmt)):
            return self._update(stmt)
        if isinstance(stmt, (ast.DeleteNodeStmt, ast.DeleteEdgeStmt)):
            return self._delete(stmt)
        if isinstance(stmt, ast.MatchStmt):
            return self._match(stmt)
        if isinstance(stmt, ast.ExplainStmt):
            return self._explain(stmt)
        if isinstance(stmt, ast.ShowStmt):
            return self._show(stmt)
        if isinstance(stmt, ast.DescribeStmt):
            return self._describe(stmt)
        raise EngineError(f"unsupported statement: {type(stmt).__name__}")

    # ------------------------------------------------------------- DDL

    def _execute_ddl(self, stmt: ast.Stmt) -> StatementResult:
        try:
            new_cat = apply_ddl(self.catalog, stmt)
        except DDLError as e:
            raise EngineError(str(e)) from e
        # persist-before-publish (catalog/registry.go:100-114)
        if self.catalog_store and not self._replaying:
            self.catalog_store.append_event(stmt, seq=self._next_seq())
        old_cat = self.catalog
        self.catalog = new_cat
        self._migrate_tables(old_cat, stmt)
        # Auto-compaction: every snapshot_every events, run a FULL
        # flush — snapshotting the catalog alone would advance the DDL
        # replay offset past events whose sequence numbers interleave
        # with still-unflushed DML, breaking ordered replay (e.g. DROP
        # + CREATE same name after an unflushed INSERT). flush() keeps
        # snapshot, table versions, and commit offset consistent.
        if (
            self.catalog_store
            and not self._replaying
            and self.catalog_store.events_since_snapshot()
            >= self.catalog_store.snapshot_every
        ):
            self.flush()
        return StatementResult(
            "ddl", f"OK (catalog version {new_cat.version})", count=0
        )

    def _migrate_tables(self, old_cat: Catalog, stmt: ast.Stmt) -> None:
        if isinstance(stmt, ast.CreateNodeStmt):
            nt = self.catalog.node(stmt.name)
            self.tables[("node", stmt.name)] = _Table(node_struct(nt))
        elif isinstance(stmt, ast.CreateEdgeStmt):
            et = self.catalog.edge(stmt.name)
            self.tables[("edge", stmt.name)] = _Table(edge_struct(et))
        elif isinstance(stmt, ast.DropNodeStmt):
            self._reclaim_table_scratch(self.tables.pop(("node", stmt.name), None))
            self._drop_sidecar_caches("node", stmt.name)
        elif isinstance(stmt, ast.DropEdgeStmt):
            self._reclaim_table_scratch(self.tables.pop(("edge", stmt.name), None))
            self._drop_sidecar_caches("edge", stmt.name)
        elif isinstance(stmt, (ast.AlterNodeStmt, ast.AlterEdgeStmt)):
            kind = "node" if isinstance(stmt, ast.AlterNodeStmt) else "edge"
            key = (kind, stmt.name)
            tab = self.tables.get(key)
            if tab is None:
                return
            if kind == "node":
                new_schema = node_struct(self.catalog.node(stmt.name))
            else:
                new_schema = edge_struct(self.catalog.edge(stmt.name))
            df = self._merged_df(key)
            for f in new_schema.fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
                elif df.schema[f.name].dataType != f.dataType:
                    df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
            df = df.select(*[f.name for f in new_schema.fields])
            # the migrated base must flush as a FULL rewrite: old
            # version files carry the old physical schema, so no
            # bucket leaf dir can be inherited (touched_buckets=None)
            self.tables[key] = _Table(
                new_schema,
                base=df.localCheckpoint(),
                version=tab.version,
                base_dirty=True,
                touched_buckets=None,
                # the forced full rewrite may re-bucket, but until it
                # runs the GROWN granularity must survive the ALTER
                bucket_n=tab.bucket_n,
            )
            # localCheckpoint materialized the composed view: the old
            # table's pending mutation side files are unreferenced now
            self._reclaim_table_scratch(tab)

    @staticmethod
    def _reclaim_table_scratch(tab: "_Table | None") -> None:
        """Reclaim a replaced/popped table's pending mutation scratch
        (its non-fold mut_parts dirs). ALTER rebuilds
        the _Table from a materialized localCheckpoint and DROP
        discards the table outright, so nothing references the side
        files afterwards — without this they persist until the
        process dies and a later engine open sweeps them (ADVICE
        r13; flush/rebase/unique-abort already reclaim their own)."""
        if tab is None:
            return
        for op, ref in tab.mut_parts:
            if op != "fold":
                shutil.rmtree(ref, ignore_errors=True)
        tab.mut_parts = []

    # ------------------------------------------------------------ tables

    def _table(self, kind: str, name: str) -> _Table:
        tab = self.tables.get((kind, name))
        if tab is None:
            raise EngineError(f"{kind} type {name!r} does not exist")
        return tab

    def _local_frame(
        self, data: "list | pa.Table", schema: "ST.StructType | str"
    ) -> DataFrame:
        """THE way driver rows enter Spark: ``data`` (an Arrow table of
        ``schema``, or rows as ``_snapshot`` takes them; ``schema`` may
        be a DDL string) becomes one Arrow table and ``createDataFrame``
        turns it into a LocalRelation. Spark folds filters and projections over a local
        relation into it on the driver, so reading one runs no job,
        where a frame built from a Python list is a parallelized RDD
        that costs a job (~0.5 s) at every use. A schema or value
        without an Arrow form keeps the list path."""
        if isinstance(schema, str):
            schema = ST.StructType.fromDDL(schema)
        if not isinstance(data, pa.Table):
            data = _snapshot(data, schema)
        return self.spark.createDataFrame(data, schema)

    def _buffer_df(self, tab: _Table) -> DataFrame | None:
        if not tab.buffer:
            return None
        return self._local_frame(tab.buffer, tab.schema)

    def _merged_df(self, key: tuple[str, str]) -> DataFrame:
        tab = self.tables[key]
        buf_df = self._buffer_df(tab)
        if tab.base is not None and buf_df is not None:
            return tab.base.unionByName(buf_df)
        if tab.base is not None:
            return tab.base
        if buf_df is not None:
            return buf_df
        return self._local_frame([], tab.schema)

    def _live_view(
        self,
        key: tuple[str, str],
        tab: _Table,
        groups: list | None,
        small: bool = False,
    ) -> "DataFrame | pa.Table":
        """The live view of a table for a compiled WHERE (``groups``;
        None = nothing to prune by). With ``small``, an Arrow table in
        ``_id`` order when the table is pure-buffer or ``_small_scan``
        applies, at most ``_SMALL_SCAN_ROWS`` rows either way. Otherwise a
        DataFrame: with the flushed-chain start zone-pruned (VERDICT
        r12 #2), candidate leafs read by explicit file list, pending
        mutation layers replayed in full, current buffer unioned. Sound
        because a base row the pruning drops either still holds its
        (non-matching) base values or was rewritten — in which case its
        composed row arrives via a fully-read patch layer while the
        anti-join removes the base copy regardless. Pruning does not
        apply with no chain, an ALTER in flight, a rebase layer or no
        inventories, and when it removed nothing the ordinary merged
        view is returned."""
        if small and tab.base is None and len(tab.buffer) <= _SMALL_SCAN_ROWS:
            buf = _snapshot(tab.buffer, tab.schema)  # a pure-buffer table
            if isinstance(buf, pa.Table):
                return _id_order(buf)
        chain = (
            bool(self.data_dir)
            and tab.version > 0
            and tab.touched_buckets is not None  # ALTER migrated the base
        )
        sel = None
        if (
            chain
            and (groups is not None or small)
            and not any(op == "rebase" for op, _ in tab.mut_parts)
        ):
            sel = self._chain_files(*key, tab.version, tab.schema, groups)
        if small and chain:
            scan = self._small_scan(tab, sel)
            if scan is not None:
                return scan
        if sel is None or not sel.pruned:
            return self._merged_df(key)
        df = self._compose_mut_parts(tab, self._read_files(*key, sel))
        buf_df = self._buffer_df(tab)
        return df.unionByName(buf_df) if buf_df is not None else df

    def _small_scan(self, tab: _Table, sel: _Files | None) -> pa.Table | None:
        """The live view of a small flushed table built on the driver
        with pyarrow: the selected chain files (or the last rebase
        snapshot, which restarts the composition), the pending mutation
        layers applied in order (``d``: anti-join on ``_id``; ``u``:
        matched rows replaced; ``fold``: rows appended), the buffer
        appended, sorted by ``_id``. None when a selected leaf has no
        inventory or the rows to scan exceed ``_SMALL_SCAN_ROWS``."""
        parts = tab.mut_parts
        rebase = max(
            (i for i, (op, _) in enumerate(parts) if op == "rebase"), default=-1
        )
        if rebase < 0 and (sel is None or sel.rows is None):
            return None
        parts = parts[max(rebase, 0) :]
        files = {ref: _parquet_files(ref) for op, ref in parts if op != "fold"}
        rows = (sel.rows if rebase < 0 else 0) + len(tab.buffer)
        rows += sum(
            len(ref)
            if op == "fold"
            else sum(pq.ParquetFile(f).metadata.num_rows for f in files[ref])
            for op, ref in parts
        )
        if rows > _SMALL_SCAN_ROWS:
            return None
        try:
            asch = to_arrow_schema(tab.schema)
            out = asch.empty_table() if rebase >= 0 else _parquet_table(sel.paths, asch)
            for op, ref in parts:
                if op == "fold":
                    out = pa.concat_tables([out, ref])
                elif op == "rebase":
                    out = _parquet_table(files[ref], asch)
                else:
                    side = _parquet_table(
                        files[ref],
                        asch if op == "u" else pa.schema([asch.field(ID_COLUMN)]),
                    )
                    out = out.filter(
                        pc.invert(
                            pc.is_in(
                                out.column(ID_COLUMN),
                                value_set=side.column(ID_COLUMN),
                            )
                        )
                    )
                    if op == "u":
                        out = pa.concat_tables([out, side])
            if tab.buffer:
                out = pa.concat_tables([out, _arrow_table(tab.buffer, tab.schema)])
        except (pa.ArrowException, TypeError, ValueError, PySparkException):
            return None  # no Arrow form (a fold kept row tuples): Spark path
        return _id_order(out)

    def _element_scan(
        self,
        key: tuple[str, str],
        where: list,
        i: int = 0,
        nullable: bool = False,
        small: bool = False,
        as_of: int | None = None,
    ) -> "DataFrame | pa.Table":
        """Pattern element ``i``'s unprefixed live view (``_live_view``:
        with ``small``, an Arrow table in ``_id`` order when one
        applies, else a DataFrame), or with ``as_of`` that committed
        version of the table (``_df_at``). Its base scan is
        zone/bloom-pruned by the groups of the bound WHERE that bind
        exclusively to it; on a NULLABLE side (at/after an OPTIONAL hop,
        or an optional endpoint) only predicates that also reject the
        NULL padding qualify (see zones.compile_chain_pruning_groups).
        Endpoint refs of edge DML scan their node table the same way,
        bound alone."""
        groups = (
            zn.compile_chain_pruning_groups(where, i, nullable)
            if where and self.zone_stats
            else None
        )
        if as_of is not None:
            return self._df_at(*key, as_of, prune_groups=groups)
        return self._live_view(key, self.tables[key], groups, small)

    # --------------------------------------------------------- helpers

    def _field_specs(self, kind: str, name: str) -> dict[str, FieldSpec]:
        if kind == "node":
            nt = self.catalog.node(name)
            if nt is None:
                raise EngineError(f"node type {name!r} does not exist")
            return nt.field_map()
        et = self.catalog.edge(name)
        if et is None:
            raise EngineError(f"edge type {name!r} does not exist")
        return et.prop_map()

    def _coerce_props(
        self, props: tuple[ast.Property, ...], specs: dict[str, FieldSpec], type_name: str
    ) -> dict:
        row: dict = {}
        for p in props:
            spec = specs.get(p.name)
            if spec is None:
                raise EngineError(f"unknown property {p.name!r} on type {type_name!r}")
            try:
                row[p.name] = coerce_literal(p.value, spec.type, p.name)
            except CoercionError as e:
                raise EngineError(str(e)) from e
        return row

    def _apply_defaults_and_notnull(
        self, row: dict, specs: dict[str, FieldSpec], type_name: str
    ) -> dict:
        for spec in specs.values():
            if spec.name not in row and spec.default is not None:
                try:
                    row[spec.name] = coerce_literal(spec.default, spec.type, spec.name)
                except CoercionError as e:
                    raise EngineError(str(e)) from e
            if spec.not_null and row.get(spec.name) is None:
                raise EngineError(
                    f"field {spec.name!r} is NOT NULL but no value provided"
                )
        return row

    def _check_unique(
        self, key: tuple[str, str], unique_fields: list[str], row: dict
    ) -> None:
        from grapho_spark.operators.bloom import SparkBloom

        tab = self.tables[key]
        for fname in unique_fields:
            val = row.get(fname)
            if val is None:
                continue
            for r in tab.buffer:
                if r.get(fname) == val:
                    raise EngineError(f"unique violation on {fname!r}: {val!r}")
            if tab.base is not None:
                bf = tab.blooms.get(fname)
                if bf is None and SparkBloom.supports(tab.schema[fname].dataType):
                    bf = SparkBloom.build(tab.base, fname)
                    tab.blooms[fname] = bf
                if bf is not None and not bf.might_contain(val):
                    continue  # definitely absent: no scan needed
                if tab.base.filter(F.col(fname).eqNullSafe(F.lit(val))).limit(1).count():
                    raise EngineError(f"unique violation on {fname!r}: {val!r}")

    def _bloom_put(self, tab: _Table, unique_fields: list[str], row: dict) -> None:
        for fname in unique_fields:
            bf = tab.blooms.get(fname)
            if bf is not None and row.get(fname) is not None:
                bf.put(row[fname])

    # ------------------------------------------------------------- DML

    def _insert_node(self, stmt: ast.InsertNodeStmt) -> StatementResult:
        nt = self.catalog.node(stmt.node_type)
        if nt is None:
            raise EngineError(f"node type {stmt.node_type!r} does not exist")
        specs = nt.field_map()
        row = self._coerce_props(stmt.properties, specs, stmt.node_type)
        row = self._apply_defaults_and_notnull(row, specs, stmt.node_type)
        if nt.pk and row.get(nt.pk) is None:
            raise EngineError(f"primary key {nt.pk!r} requires a value")
        unique_fields = [i.field for i in nt.indexes if i.unique]
        key = ("node", stmt.node_type)
        self._check_unique(key, unique_fields, row)
        if nt.pk_id:
            row[ID_COLUMN] = str(row[nt.pk])
        else:
            row[ID_COLUMN] = str(self.next_id)
            self.next_id += 1
        tab = self._table(*key)
        tab.buffer.append(row)
        tab.dirty = True
        self._bloom_put(tab, unique_fields, row)
        self._log_dml(stmt)
        return StatementResult(
            "insert", f"Inserted node {stmt.node_type} id={row[ID_COLUMN]}", count=1
        )

    def _endpoint_ref(
        self, ref: ast.NodeRef, declared_label: str, side: str
    ) -> tuple[_Table, list]:
        """Check an edge endpoint ref's node type against the edge's
        declared label and bind its properties (an id ref binds none):
        the node table and the bound tree."""
        if ref.node_type != declared_label:
            raise EngineError(
                f"{side} node type {ref.node_type!r} does not match "
                f"edge endpoint {declared_label!r}"
            )
        nt = self.catalog.node(ref.node_type)
        if nt is None:
            raise EngineError(f"node type {ref.node_type!r} does not exist")
        tab = self._table("node", ref.node_type)
        props = ref.properties if ref.id is None else ()
        return tab, _bind_where(
            props, [(None, nt.field_map(), tab.schema.fieldNames())]
        )

    def _ref_ids(
        self, ref: ast.NodeRef, bound: list, tab: _Table
    ) -> tuple[DataFrame, bool]:
        """The ``_id`` of every node an endpoint ref matches (its id,
        else its properties; a bare ref matches every node), read
        through the node element scan, and whether that scan ran on the
        driver. A driver scan is a small Arrow table in ``_id`` order,
        so the ids come as a local relation in ``_id`` order, read with
        no job; otherwise the live view is zone-pruned by the ref's
        properties."""
        view = self._element_scan(("node", ref.node_type), bound, small=True)
        local = isinstance(view, pa.Table)
        df = self._local_frame(view, tab.schema) if local else view
        hit = (
            F.col(ID_COLUMN) == F.lit(ref.id.text)
            if ref.id is not None
            else _where_col(bound)
        )
        return df.filter(hit).select(ID_COLUMN), local

    def _resolve_node_ref(self, ref: ast.NodeRef, declared_label: str, side: str) -> str:
        tab, bound = self._endpoint_ref(ref, declared_label, side)
        if ref.id is None and not ref.properties:
            raise EngineError(f"{side} node reference needs an id or properties")
        if ref.id is not None:
            # direct-ID refs are EXISTENCE checks (the resolved id is
            # the literal itself) — answerable from the driver buffer
            # plus a bucket-pruned read of one leaf dir instead of a
            # table scan per INSERT EDGE
            if self._point_id_exists(("node", ref.node_type), tab, ref.id.text):
                return ref.id.text
            raise EngineError(f"{side} node not found for {ref.node_type}")
        # deterministic first-match: smallest ID (the reference's
        # first-match is Go map-iteration nondeterministic,
        # server.go:758-764 — documented divergence)
        ids, local = self._ref_ids(ref, bound, tab)
        if not local:
            ids = ids.orderBy(F.length(ID_COLUMN), F.col(ID_COLUMN))
        hits = ids.limit(1).collect()
        if not hits:
            raise EngineError(f"{side} node not found for {ref.node_type}")
        return hits[0][ID_COLUMN]

    def _point_id_exists(
        self, key: tuple[str, str], tab: _Table, id_text: str
    ) -> bool:
        """Does a row with this exact ``_id`` exist? Buffer rows are
        checked driver-side (no job). On a CLEAN flushed table the
        disk probe is BUCKET-PRUNED: the id's hash bucket is computed
        with no job (``_id_buckets``), then only the owning ``_gbkt``
        leaf dir (plus any delta dirs, which are batch-sized) is read —
        O(1) files where the merged-frame filter reads every file's
        listing/footers. At 100 TB this is the difference between a
        point lookup and a table pass for every INSERT EDGE endpoint
        resolve. When the inventories put those leafs at no more than
        ``_SMALL_SCAN_ROWS`` rows, their ``_id`` column is read with
        pyarrow (no job); otherwise Spark reads them with the id filter
        pushed down. An unflushed mutation (base_dirty) or in-memory
        engine looks in the small live view (``_live_view``) when there
        is one, else runs the full merged-frame filter."""
        if any(r.get(ID_COLUMN) == id_text for r in tab.buffer):
            return True
        if tab.base is None:
            return False
        kind, name = key
        if not self.data_dir or tab.version == 0 or tab.base_dirty:
            return self._live_holds(key, tab, ID_COLUMN, id_text)
        chain = self._chain_versions(kind, name, tab.version)
        if not chain:
            return False
        base_dir = os.path.join(self.data_dir, "tables", f"{kind}_{name}")
        anchor = chain[0]
        bm = (
            self._bucket_map(kind, name, anchor)
            if not self._is_delta_version(kind, name, anchor)
            else None
        )
        leafs: list[tuple[int, str]] = []  # (owner version, leaf key)
        if bm is not None:
            b = self._id_buckets([id_text], int(bm["n"]))[0]
            owner = bm["map"].get(str(b))
            if owner is not None:
                leafs.append((int(owner), str(b)))
        else:
            # legacy whole-dir anchor (pre-bucketed layout)
            leafs.append((anchor, zn.ROOT_LEAF))
        leafs.extend((v, zn.ROOT_LEAF) for v in chain[1:])
        if not leafs:  # empty bucket, no deltas: provably absent
            return False
        dirs = [
            os.path.join(base_dir, f"v{v}")
            if k == zn.ROOT_LEAF
            else os.path.join(base_dir, f"v{v}", f"{BUCKET_COLUMN}={k}")
            for v, k in leafs
        ]
        metas = [
            (self._inventory(kind, name, v) or {"leafs": {}})["leafs"].get(k)
            for v, k in leafs
        ]
        if None not in metas and sum(m["rows"] for m in metas) <= _SMALL_SCAN_ROWS:
            ids = _parquet_table(
                [os.path.join(d, f) for d, m in zip(dirs, metas) for f, _ in m["files"]],
                pa.schema([pa.field(ID_COLUMN, pa.string())]),
            ).column(ID_COLUMN)
            return bool(pc.any(pc.equal(ids, id_text)).as_py())
        probe = self.spark.read.schema(tab.schema).parquet(*dirs)
        return bool(
            probe.filter(F.col(ID_COLUMN) == F.lit(id_text)).limit(1).collect()
        )

    def _live_holds(
        self, key: tuple[str, str], tab: _Table, col: str, value: str
    ) -> bool:
        """Does the live view hold a row whose ``col`` equals ``value``?
        Answered on the driver when the view is small (``_live_view``)."""
        view = self._live_view(key, tab, None, small=True)
        if isinstance(view, pa.Table):
            return bool(pc.any(pc.equal(view.column(col), value)).as_py())
        return bool(view.filter(F.col(col) == F.lit(value)).limit(1).count())

    def _mutation_rows(
        self,
        stmt: ast.UpdateNodeStmt
        | ast.UpdateEdgeStmt
        | ast.DeleteNodeStmt
        | ast.DeleteEdgeStmt,
        kind: str,
        type_name: str,
        specs: dict[str, FieldSpec],
        tab: _Table,
    ) -> tuple:
        """The matched-rows step UPDATE and DELETE share. The WHERE and
        the edge endpoint refs (set semantics: ALL matching nodes,
        unlike INSERT's single resolve) bind once and the result is
        ``(test, rows, df, pred)``. When every endpoint's node scan runs
        on the driver (``_ref_ids``), the statement can too, with zero
        Spark jobs: on a pure-buffer table ``(test, None, None, None)``, a
        row test over ``tab.buffer``; on a small flushed table
        ``(test, rows, None, pred)``, the same test over the rows of
        ``_small_scan`` (``pred`` is the WHERE's ``Column`` for the
        unique probe). Otherwise ``(None, None, df, pred)``: the live
        view zone-pruned for the WHERE, with each endpoint's matching
        ids left-joined on as a marker column (node ids are unique, so
        the joins never duplicate edge rows, and the predicate stays a
        distributed plan — no driver-side id collection)."""
        key = (kind, type_name)
        where = _bind_where(stmt.where, [(None, specs, tab.schema.fieldNames())])
        eps = []
        if kind == "edge":
            et = self.catalog.edge(type_name)
            assert et is not None
            for ref, side, col, label in (
                (stmt.from_node, "FROM", SRC_COLUMN, et.from_ep.label),
                (stmt.to_node, "TO", DST_COLUMN, et.to_ep.label),
            ):
                if ref is not None:
                    eps.append((ref, side, col, *self._endpoint_ref(ref, label, side)))
        # each endpoint's matching ids, as a marker column to left-join
        # on, and as a row test when its node scan ran on the driver
        tests, markers = [_row_test(where)], []
        for ref, side, col, ep_tab, bound in eps:
            ids, local = self._ref_ids(ref, bound, ep_tab)
            marker = f"_grapho_{side.lower()}_match"
            markers.append((col, marker, ids.select(F.col(ID_COLUMN).alias(marker))))
            if local:
                hit = {r[ID_COLUMN] for r in ids.collect()}
                tests.append(lambda r, c=col, s=hit: r.get(c) in s)
        driver_eps = len(tests) == len(eps) + 1  # every endpoint has a test
        test = lambda r: all(t(r) for t in tests)  # noqa: E731
        if driver_eps and tab.base is None:
            return test, None, None, None
        # zone/bloom pruning: restrict the base scan to the leafs whose
        # stats admit the predicate (point statements on a bloomed
        # field read O(1) leafs instead of the chain)
        # the driver path writes SET values into Arrow columns: each
        # must be stored as its catalog type (a string into a bound
        # decimal column only converts through Spark's cast)
        exact = _row_test_exact(where, tab.schema) and all(
            tab.schema[p.name].dataType == spark_type(specs[p.name].type)
            for p in getattr(stmt, "set", ())
            if p.name in specs and p.name in tab.schema.fieldNames()
        )
        view = self._live_view(
            key,
            tab,
            zn.compile_pruning_groups(where) if where and self.zone_stats else None,
            small=driver_eps and exact,
        )
        pred = _where_col(where)
        if isinstance(view, pa.Table):
            return test, view.to_pylist(), None, pred
        df = view
        for col, marker, ids in markers:
            df = df.join(ids, df[col] == ids[marker], "left")
            pred = pred & F.col(marker).isNotNull()
        return None, None, df, pred

    def _insert_edge(self, stmt: ast.InsertEdgeStmt) -> StatementResult:
        et = self.catalog.edge(stmt.edge_type)
        if et is None:
            raise EngineError(f"edge type {stmt.edge_type!r} does not exist")
        assert stmt.from_node is not None and stmt.to_node is not None
        src = self._resolve_node_ref(stmt.from_node, et.from_ep.label, "FROM")
        dst = self._resolve_node_ref(stmt.to_node, et.to_ep.label, "TO")
        specs = et.prop_map()
        row = self._coerce_props(stmt.properties, specs, stmt.edge_type)
        row = self._apply_defaults_and_notnull(row, specs, stmt.edge_type)
        key = ("edge", stmt.edge_type)
        # declared cardinality enforcement (divergence: the reference
        # parses+stores cardinality but never checks it, SURVEY.md §1.2)
        tab_e = self._table(*key)
        for card, col, node_id, ep_side, ep_label in (
            (et.from_ep.card, SRC_COLUMN, src, "FROM", et.from_ep.label),
            (et.to_ep.card, DST_COLUMN, dst, "TO", et.to_ep.label),
        ):
            if card is not Cardinality.ONE:
                continue
            if tab_e.base is None:  # pure-buffer fast path
                taken = any(r.get(col) == node_id for r in tab_e.buffer)
            else:
                taken = self._live_holds(key, tab_e, col, node_id)
            if taken:
                raise EngineError(
                    f"cardinality violation: {ep_side} {ep_label} is ONE "
                    f"and node {node_id} already has a {stmt.edge_type} edge"
                )
        row[ID_COLUMN] = f"edge_{self.next_id}"
        self.next_id += 1
        row[SRC_COLUMN] = src
        row[DST_COLUMN] = dst
        tab = self._table(*key)
        tab.buffer.append(row)
        tab.dirty = True
        self._log_dml(stmt)
        return StatementResult(
            "insert", f"Inserted edge {stmt.edge_type} id={row[ID_COLUMN]}", count=1
        )

    def _coerce_sets(
        self,
        stmt: ast.UpdateNodeStmt | ast.UpdateEdgeStmt,
        specs: dict[str, FieldSpec],
        type_name: str,
    ) -> dict[str, object]:
        sets: dict[str, object] = {}
        for p in stmt.set:
            spec = specs.get(p.name)
            if spec is None:
                raise EngineError(f"unknown property {p.name!r} on type {type_name!r}")
            try:
                val = coerce_literal(p.value, spec.type, p.name)
            except CoercionError as e:
                raise EngineError(str(e)) from e
            if val is None and spec.not_null:
                raise EngineError(f"field {p.name!r} is NOT NULL")
            sets[p.name] = val
        return sets

    def _mut_scratch_dir(self) -> str:
        """Fresh scratch dir for one mutation side file (deletion
        vector / rewrite patch / rebase snapshot). Session-scoped
        scratch, NOT durable state: the commit log replays the
        statement (re-deriving the side file) after a crash, and the
        next flush folds pending side files into a versioned parquet.

        Durable engines root the scratch under ``data_dir/_scratch``
        (ADVICE r12): the system temp dir is reaped by tmpfiles
        cleaners on long-lived hosts, and a keep-composed live plan
        may lazily reference a side file well past the flush that
        made it redundant — scratch must share the data dir's
        lifetime, not /tmp's. Side files are GC'd when the last plan
        reference drops (fresh chain rebuild, rebase, uniqueness
        abort — see flush()/_publish_mutation/_update); stale
        sessions' roots are swept at the next open (_sweep_scratch)."""
        if self._mut_tmp is None:
            if self.data_dir:
                root = os.path.join(self.data_dir, "_scratch")
                os.makedirs(root, exist_ok=True)
                self._sweep_scratch(root)
                self._mut_tmp = tempfile.mkdtemp(
                    prefix=f"mut-{os.getpid()}-{_scratch_host_tag()}-",
                    dir=root,
                )
            else:
                self._mut_tmp = tempfile.mkdtemp(prefix="grapho_mut_")
        self._mut_n += 1
        return os.path.join(self._mut_tmp, f"m{self._mut_n}")

    @staticmethod
    def _sweep_scratch(root: str) -> None:
        """Remove mutation-scratch session roots left by DEAD
        processes (a crashed session cannot sweep its own; every side
        file it held is re-derivable from the commit log). Live pids
        — including other engines of this process — are never
        touched. Roots carry the writer's hostname tag
        (``mut-<pid>-<host>-<rand>``): os.kill(pid, 0) is only
        meaningful on the writer's host, so when a durable data_dir
        is shared across hosts (or pid namespaces) a foreign live
        session must not be swept on pid-reuse coincidence (ADVICE
        r13). Foreign-host roots are left alone — the owner's next
        open sweeps them. Legacy two-part roots (pre-hostname) are
        treated as same-host."""
        host = _scratch_host_tag()
        for e in os.listdir(root):
            if not e.startswith("mut-"):
                continue
            parts = e.split("-")
            try:
                pid = int(parts[1])
            except (IndexError, ValueError):
                continue
            # mut-<pid>-<host>-<rand> is 4+ parts; mut-<pid>-<rand>
            # (legacy) is 3 and predates cross-host sharing
            if len(parts) >= 4 and parts[2] != host:
                continue
            if pid == os.getpid():
                continue
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(root, e), ignore_errors=True)
            except PermissionError:
                pass  # alive under another uid: leave it

    @staticmethod
    def _side_file_bytes(path: str) -> int:
        """On-disk size of a mutation side file (its parquet parts) —
        the byte arm of the broadcast-hint gate. A rewrite patch's
        _ID is a subset of its row width, so the true broadcast
        payload (the _id projection) is never larger than this."""
        try:
            return sum(os.stat(f).st_size for f in _parquet_files(path))
        except OSError:
            return 0

    def _compose_mut_parts(self, tab: _Table, start: DataFrame) -> DataFrame:
        """Apply the pending mutation layers to ``start`` in statement
        order. Works for ANY starting row set that is a superset of
        the rows the layers touch — the flush's partial path exploits
        this by starting from ONLY the touched buckets' leaf dirs
        (every matched row's bucket is in touched_buckets, so the
        restricted replay is exact on those buckets)."""
        out = start
        for op, ref in tab.mut_parts:
            if op == "fold":
                out = out.unionByName(self._local_frame(ref, tab.schema))
            elif op == "rebase":
                # full-view snapshot: composition restarts here
                out = self.spark.read.schema(tab.schema).parquet(ref)
            elif op == "d":
                out = out.join(
                    self.spark.read.schema(_ID_SCHEMA).parquet(ref),
                    ID_COLUMN,
                    "left_anti",
                )
            else:  # "u"
                patch = self.spark.read.schema(tab.schema).parquet(ref)
                out = out.join(
                    patch.select(ID_COLUMN), ID_COLUMN, "left_anti"
                ).unionByName(patch)
        return out

    def _publish_mutation(
        self,
        tab: _Table,
        path: str,
        op: str,
        count: int,
        ids: list[str] | None = None,
    ) -> None:
        """Merge-on-read publish of an UPDATE/DELETE (VERDICT r11 #1):
        compose the statement's side file onto the live view —
        ``base ∖ matched-ids [∪ rewrites]`` — instead of
        materializing an O(table) localCheckpoint per statement. The
        side file holds ONLY the matched rows, so statement cost is
        one pushdown scan + an O(matched) write; the read side stays
        a lazy plan over the flushed chain (reference analogue being
        beaten: full-scan-per-statement at server/server.go:641-740).

        Any buffered inserts fold into the view first (their row
        dicts are snapshotted by _buffer_df, and matched buffer rows
        are already in the side file — the anti-join removes their
        stale originals). Plan depth is bounded: past
        2·max_delta_chain layers the view is rebased into one scratch
        snapshot (O(live rows), amortized over the window).

        First the side file's hash buckets are recorded as touched —
        plus the buffer's, since the fold below moves buffered inserts
        into base (a later partial rewrite would otherwise drop
        surviving ex-buffer rows in untouched buckets; caught by the
        r10 durable soak, seed 209). When the matched ``ids`` are on
        the driver, their buckets are hashed with no job."""
        side = self.spark.read.schema(
            tab.schema if op == "u" else _ID_SCHEMA
        ).parquet(path)
        if tab.touched_buckets is not None:
            n = self._tab_bucket_n(tab)
            tab.touched_buckets |= (
                set(self._id_buckets(ids, n))
                if ids is not None
                else {
                    int(r[0])
                    for r in side.select(self._bucket_expr(n)).distinct().collect()
                }
            )
            if tab.buffer:
                tab.touched_buckets |= self._buffer_buckets(tab)
        base = (
            tab.base
            if tab.base is not None
            else self._local_frame([], tab.schema)
        )
        if tab.buffer:
            fold = _snapshot(tab.buffer, tab.schema)
            tab.mut_parts.append(("fold", fold))
            base = base.unionByName(self._local_frame(fold, tab.schema))
            tab.buffer = []
            tab.base_layers += 1
        small = count <= _MUT_BROADCAST_ROWS and (
            self._side_file_bytes(path) <= _MUT_BROADCAST_BYTES
        )
        if op == "u":
            ids = side.select(ID_COLUMN)
            if small:
                ids = F.broadcast(ids)
            tab.base = base.join(ids, ID_COLUMN, "left_anti").unionByName(
                side
            )
            tab.base_layers += 2
        else:
            ids = F.broadcast(side) if small else side
            tab.base = base.join(ids, ID_COLUMN, "left_anti")
            tab.base_layers += 1
        tab.mut_parts.append((op, path))
        tab.dirty = True
        tab.base_dirty = True
        if len(tab.mut_parts) > 2 * self.max_delta_chain:
            rb = self._mut_scratch_dir()
            tab.base.write.mode("overwrite").parquet(rb)
            # the snapshot MATERIALIZED every pending layer — the
            # superseded side files have no live reference left (the
            # rebased plan reads only rb) and are reclaimed here
            # (ADVICE r12)
            stale = [
                ref for op, ref in tab.mut_parts if op != "fold"
            ]
            tab.base = self.spark.read.schema(tab.schema).parquet(rb)
            tab.mut_parts = [("rebase", rb)]
            tab.base_layers = 1
            for sp in stale:
                shutil.rmtree(sp, ignore_errors=True)

    def _update_buffer(
        self,
        stmt: ast.UpdateNodeStmt | ast.UpdateEdgeStmt,
        kind: str,
        type_name: str,
        tab: _Table,
        test,
        sets: dict[str, object],
    ) -> StatementResult:
        """UPDATE over a pure-buffer table: mutate the driver-held row
        dicts in place. The uniqueness guard checks the WOULD-BE state
        before any mutation (like the distributed path, which builds
        new_df first), so a violation leaves the table untouched."""
        matched = [r for r in tab.buffer if test(r)]
        if matched:
            if kind == "node":
                nt = self.catalog.node(type_name)
                hit_ids = {id(r) for r in matched}
                for idx in nt.indexes:
                    if idx.unique and idx.field in sets:
                        seen: set = set()
                        for r in tab.buffer:
                            v = sets[idx.field] if id(r) in hit_ids else r.get(idx.field)
                            if v is None:
                                continue
                            k = _hkey(v)
                            if k in seen:
                                raise EngineError(
                                    f"unique violation on {idx.field!r} after update"
                                )
                            seen.add(k)
            for r in matched:
                r.update(sets)
            tab.dirty = True
            self._bloom_put(tab, list(sets), sets)
        self._log_dml(stmt)
        return StatementResult(
            "update", f"Updated {len(matched)} {kind}(s)", count=len(matched)
        )

    def _update(self, stmt: ast.UpdateNodeStmt | ast.UpdateEdgeStmt) -> StatementResult:
        is_node = isinstance(stmt, ast.UpdateNodeStmt)
        kind = "node" if is_node else "edge"
        type_name = stmt.node_type if is_node else stmt.edge_type
        specs = self._field_specs(kind, type_name)
        key = (kind, type_name)
        tab = self._table(*key)
        test, rows, df, pred = self._mutation_rows(
            stmt, kind, type_name, specs, tab
        )
        sets = self._coerce_sets(stmt, specs, type_name)
        nt = self.catalog.node(type_name) if is_node else None
        if nt is not None and nt.pk_id and nt.pk in sets:
            raise EngineError(
                f"primary key {nt.pk!r} of a bound node type is its _id "
                f"and cannot be updated"
            )
        if test is not None and rows is None:
            return self._update_buffer(stmt, kind, type_name, tab, test, sets)

        cols = [f.name for f in tab.schema.fields]
        path = self._mut_scratch_dir()
        ids = None
        if rows is not None:
            # small table: the matched rows, with SET applied, go to
            # the side file from the driver
            matched = [{**r, **sets} for r in rows if test(r)]
            count = len(matched)
            ids = [r[ID_COLUMN] for r in matched]
            if count:
                _write_side_file(path, matched, tab.schema)
        else:
            # ONE base scan per statement (r12): write the matched rows
            # (with SET applied) straight to the side file, then derive
            # count and touched buckets from the side file itself —
            # footer-cheap reads of an O(matched) table, replacing the
            # separate stats aggregation scan of the whole chain.
            patch_rows = df.filter(pred)
            for k, v in sets.items():
                patch_rows = patch_rows.withColumn(
                    k, F.lit(v).cast(df.schema[k].dataType)
                )
            patch_rows.select(*cols).write.mode("overwrite").parquet(path)
            count = self.spark.read.schema(tab.schema).parquet(path).count()
        if count:
            # Uniqueness guard BEFORE any state change. Every matched
            # row gets the SAME literal — a violation is exactly
            # (a) two matched rows both receiving it, or (b) an
            # UNMATCHED row already holding it (unmatched = pred not
            # TRUE, which includes null-pred rows — eqNullSafe). This
            # replaces the old full-table groupBy-dedup scan with an
            # O(1) check plus one pushdown probe per set unique field.
            if is_node:
                set_lits = {p.name: p.value for p in stmt.set}
                for idx in nt.indexes:
                    if idx.unique and idx.field in sets:
                        if sets[idx.field] is None:
                            continue  # nulls never collide
                        # the probe searches UNMATCHED rows, so the
                        # WHERE-pruned df above is not a superset of
                        # its search space — prune by the probe's own
                        # equality instead (unique fields are bloomed)
                        probe = _bind_where(
                            (ast.Property(idx.field, set_lits[idx.field]),),
                            [(None, specs, cols)],
                        )
                        probe_df = self._live_view(
                            key, tab, zn.compile_pruning_groups(probe)
                        )
                        clash = count > 1 or bool(
                            probe_df.filter(
                                ~pred.eqNullSafe(F.lit(True)) & _where_col(probe)
                            )
                            .limit(1)
                            .count()
                        )
                        if clash:
                            # the statement aborts before publishing:
                            # reclaim the orphaned patch dir (ADVICE
                            # r12 — nothing references it)
                            shutil.rmtree(path, ignore_errors=True)
                            raise EngineError(
                                f"unique violation on {idx.field!r} after update"
                            )
            self._publish_mutation(tab, path, "u", count, ids)
            # SET may introduce values unseen by the sketches: put them,
            # so each bloom stays a superset of the stored values (a
            # stale bloom would false-negative and skip a real scan).
            self._bloom_put(tab, list(sets), sets)
        self._log_dml(stmt)
        return StatementResult("update", f"Updated {count} {kind}(s)", count=count)

    def _delete(self, stmt: ast.DeleteNodeStmt | ast.DeleteEdgeStmt) -> StatementResult:
        is_node = isinstance(stmt, ast.DeleteNodeStmt)
        kind = "node" if is_node else "edge"
        type_name = stmt.node_type if is_node else stmt.edge_type
        specs = self._field_specs(kind, type_name)
        tab = self._table(kind, type_name)
        if not stmt.where and (is_node or not (stmt.from_node or stmt.to_node)):
            # the parser mandates a predicate; guard the programmatic path
            raise EngineError("DELETE requires WHERE or endpoint refs")
        test, rows, df, pred = self._mutation_rows(
            stmt, kind, type_name, specs, tab
        )
        if test is not None and rows is None:
            # pure-buffer fast path: filter the driver-held rows
            keep = [r for r in tab.buffer if not test(r)]
            count = len(tab.buffer) - len(keep)
            if count:
                tab.buffer = keep
                tab.dirty = True
            self._log_dml(stmt)
            return StatementResult("delete", f"Deleted {count} {kind}(s)", count=count)
        # ONE base scan (r12): persist the deletion vector of matched
        # _ids (O(matched), not an O(table) rewrite), then derive count
        # and touched buckets from the side file, as in _update.
        path = self._mut_scratch_dir()
        ids = None
        if rows is not None:
            # small table: the deletion vector is written from the driver
            ids = [r[ID_COLUMN] for r in rows if test(r)]
            count = len(ids)
            if count:
                _write_side_file(path, [(i,) for i in ids], _ID_SCHEMA)
        else:
            df.filter(pred).select(ID_COLUMN).write.mode("overwrite").parquet(path)
            count = self.spark.read.parquet(path).count()
        if count:
            self._publish_mutation(tab, path, "d", count, ids)
        # NOTE: like the reference, DELETE NODE does not cascade or
        # validate dangling edges (SURVEY.md §2.1 #12).
        self._log_dml(stmt)
        return StatementResult("delete", f"Deleted {count} {kind}(s)", count=count)

    # ------------------------------------------------------------ MATCH

    def _match_shape(self, stmt: ast.MatchStmt) -> tuple[str, list]:
        """Validate a MATCH pattern: its shape and each element's field
        specs. ``nodes`` is a union of node types (a missing type has
        None specs: the union refuses it at its turn, see ``_match``);
        ``chain`` alternates node, edge, node, ...; ``reach`` is node,
        edge*lo..hi, node. The reference's grammar parses pattern
        elements but hardcodes IsEdge=false (parser.go:685), because a
        parser without a catalog cannot tell node types from edge
        types; the engine can, so an element naming an edge type makes
        the pattern a chain or a reach."""
        pattern = stmt.pattern
        node, edge = self.catalog.node, self.catalog.edge
        if not pattern:
            raise EngineError("MATCH requires at least one pattern element")
        if stmt.as_of is not None:
            # Time-travel MATCH reads ONE committed parquet version —
            # a chain/var-length/multi pattern would need a consistent
            # multi-table snapshot the flush protocol doesn't define.
            if len(pattern) != 1:
                raise EngineError("AS OF supports a single node-pattern element")
            if node(pattern[0].type) is None:
                raise EngineError(f"node type {pattern[0].type!r} does not exist")
        bounded = [el.max_hops > 1 or el.min_hops != 1 for el in pattern]
        if all(node(el.type) is not None or edge(el.type) is None for el in pattern):
            if any(bounded):
                # *bounds on a node-only pattern would otherwise be
                # silently dropped by the union
                raise EngineError(
                    "variable-length *bounds require an edge element in the pattern"
                )
            if any(el.optional for el in pattern):
                # OPTIONAL on a node-only pattern has nothing to be
                # optional relative to
                raise EngineError(
                    "OPTIONAL requires an edge element in a chain pattern"
                )
            if len(pattern) > 1 and (
                any(func != "COUNT" for func, _ in stmt.return_aggs)
                # ADVICE r11: a SINGLE unaliased aggregate parses into the
                # legacy return_agg encoding — guard it too, or
                # COUNT(DISTINCT v) over a union pattern silently counts
                # stringified cross-type values (int 1 vs string '1'
                # merge; 1 vs 1.0 split)
                or (stmt.return_agg and stmt.return_agg[0] != "COUNT")
            ):
                # the union stringifies heterogenous prop columns for
                # schema alignment; SUM/AVG over those strings would be an
                # ANSI runtime cast error (or silent nonsense) — refuse.
                raise EngineError(
                    "aggregates other than COUNT(*)/COUNT(field) over "
                    "a multi-type pattern are not supported (the union path "
                    "stringifies heterogenous columns; SUM/AVG would cast-"
                    "error and COUNT(DISTINCT)/MIN/MAX would compare strings)"
                )
            return "nodes", [
                None if (nt := node(el.type)) is None else nt.field_map()
                for el in pattern
            ]
        if len(pattern) % 2 == 0 or len(pattern) < 3:
            raise EngineError(
                "edge-pattern MATCH must alternate node, edge, node, ..."
            )
        if any(bounded):
            if len(pattern) != 3:
                raise EngineError(
                    "variable-length MATCH supports exactly node, edge*, node"
                )
            left, mid, right = pattern
            if left.optional or right.optional:
                # OPTIONAL on the NODE elements has nothing to be optional
                # relative to; only the *bounds edge may carry it (r12)
                raise EngineError(
                    "OPTIONAL in a variable-length pattern belongs on the "
                    "edge element"
                )
            if bounded[0] or bounded[2]:
                raise EngineError("only the edge element may carry *bounds")
            nt_l, et, nt_r = node(left.type), edge(mid.type), node(right.type)
            if nt_l is None or nt_r is None or et is None:
                raise EngineError(
                    "variable-length MATCH needs node, edge, node types"
                )
            if (et.from_ep.label, et.to_ep.label) != (left.type, right.type):
                raise EngineError(
                    f"variable-length pattern labels must match edge "
                    f"{mid.type!r}'s declared endpoints "
                    f"({et.from_ep.label!r}->{et.to_ep.label!r} declared, "
                    f"pattern has {left.type!r}->{right.type!r})"
                )
            shape, specs = "reach", [nt_l.field_map(), et.prop_map(), nt_r.field_map()]
        else:
            shape, specs = "chain", []
            for i, el in enumerate(pattern):
                if i % 2 == 0:
                    nt = node(el.type)
                    if nt is None:
                        raise EngineError(
                            f"pattern position {i + 1}: node type {el.type!r} expected"
                        )
                    if el.optional and 0 < i < len(pattern) - 1:
                        # an optional INTERIOR node would leave the next
                        # hop joining through a NULL-padded _id — only the
                        # endpoints have a well-defined left-outer form
                        raise EngineError(
                            "OPTIONAL on a node element is supported only "
                            "on the first or last element of the chain"
                        )
                    specs.append(nt.field_map())
                    continue
                et = edge(el.type)
                if et is None:
                    raise EngineError(
                        f"pattern position {i + 1}: edge type {el.type!r} expected"
                    )
                left, right = pattern[i - 1], pattern[i + 1]
                if et.from_ep.label != left.type or et.to_ep.label != right.type:
                    raise EngineError(
                        f"edge {el.type!r} connects "
                        f"{et.from_ep.label!r}->{et.to_ep.label!r}, "
                        f"not {left.type!r}->{right.type!r}"
                    )
                specs.append(et.prop_map())
        aliases = [el.alias or el.type for el in pattern]
        if len(set(aliases)) != len(aliases):
            raise EngineError(
                "repeated types in an edge pattern need distinct aliases"
            )
        if pattern[0].optional and pattern[1].optional:
            # a leading optional node with an optional FIRST edge
            # would be a full-outer ambiguity
            raise EngineError(
                "OPTIONAL on the leading node cannot combine with an "
                "OPTIONAL first edge (ambiguous full-outer semantics)"
            )
        return shape, specs

    def _match(self, stmt: ast.MatchStmt) -> StatementResult:
        """THE MATCH compiler, in fixed steps: validate the pattern
        (``_match_shape``), bind the WHERE, scan each element
        (``_element_scan``), connect the scans, project RETURN, then
        order and limit (``_apply_order_limit``). Connect has three
        forms:

        - ``nodes``: one element, or a union of node types under a
          ``_label`` column with their other columns stringified. Each
          element binds the WHERE alone, and RETURN names its bare
          fields (``x.f`` projects as ``x_f`` and is null on the other
          elements of a union).
        - ``chain``: ``edge._src = left._id AND edge._dst = right._id``
          equi-joins with the join kinds of ``_hop_schedule``. Without
          ORDER BY, DISTINCT or aggregates, when every element has a
          small Arrow scan (``_live_view``) and the joined rows stay
          within ``_SMALL_SCAN_ROWS``, the joins run on the driver
          (``_chain_rows``) and the result enters Spark as one local
          relation already in tiebreak order, so WHERE, RETURN and
          LIMIT run with no job. Otherwise Spark joins the scans.
        - ``reach``: one row per reachable (a, b) pair with
          ``<alias>_hops``, the shortest path length within the bounds
          (``_reach_pairs``), joined back to the endpoint scans.

        Chain and reach columns are ``<alias>_<col>`` (alias defaults to
        the element's type name). Their WHERE is a post-join filter: a
        key applies to every element that declares it (a key no element
        declares matches nothing, the reference's missing-prop rule),
        and every leaf predicate is TOTAL, so a predicate on an optional
        field drops NULL-padded rows (SQL LEFT JOIN + WHERE) and its NOT
        keeps them. RETURN projects each field from the first element
        declaring it, plus every id (the reach: its endpoints' ids and
        the hops)."""
        shape, specs = self._match_shape(stmt)
        pattern = stmt.pattern
        n = len(pattern)
        aliases = [el.alias or el.type for el in pattern]
        keys = [
            ("edge" if shape != "nodes" and i % 2 else "node", el.type)
            for i, el in enumerate(pattern)
        ]
        # Bind. The union binds each element alone (a missing type is
        # refused at its turn); chain and reach bind once.

        def element(i: int) -> tuple:
            if specs[i] is None:
                raise EngineError(f"node type {pattern[i].type!r} does not exist")
            if shape == "reach" and i == 1:
                return (aliases[i], {}, [])  # the edge list carries no predicates
            return (aliases[i], specs[i], self._table(*keys[i]).schema.fieldNames())

        if shape == "nodes":
            wheres = [_bind_where(stmt.where, [element(i)]) for i in range(n)]
        else:
            where = _bind_where(stmt.where, [element(i) for i in range(n)])
            wheres = [where, [], where] if shape == "reach" else [where] * n
        if shape == "reach":
            # a WHERE key that binds to neither endpoint but names an
            # edge property is an error, not a FALSE member
            bare = next((f for f in _dead_fields(where) if f in specs[1]), None)
            if bare is not None:
                raise EngineError(
                    f"WHERE on edge property {bare!r} is not "
                    f"supported across a variable-length edge"
                )

        # Scan. The NULL-padded elements (the first under a right join,
        # each one a left join adds, the right endpoint of an OPTIONAL
        # *bounds edge) prune only by predicates that also reject the
        # padding. A result that keeps the tiebreak order can read small
        # Arrow scans. The reach scans its right endpoint first.
        hows = _hop_schedule(pattern) if shape == "chain" else []
        padded = [False] * (n - 1) + [shape == "reach" and pattern[1].optional]
        if hows:
            padded = [hows[0][0] == "right"]
            padded += [how == "left" for hop in hows for how in hop]
        small = (shape == "chain" or n == 1) and not (
            stmt.as_of is not None
            or stmt.order_by
            or stmt.return_distinct
            or stmt.return_count
            or stmt.return_agg
            or stmt.return_aggs
        )
        scans: list = [None] * n
        for i in reversed(range(n)) if shape == "reach" else range(n):
            scans[i] = self._element_scan(
                keys[i], wheres[i], 0 if shape == "nodes" else i, padded[i],
                small, stmt.as_of,
            )

        def frame(i: int) -> DataFrame:
            if isinstance(scans[i], pa.Table):
                return self._local_frame(scans[i], self.tables[keys[i]].schema)
            return scans[i]

        def prefixed(i: int) -> DataFrame:
            df = frame(i)
            return df.select(*[F.col(c).alias(f"{aliases[i]}_{c}") for c in df.columns])

        # Connect and project.
        in_order = False  # rows already in tiebreak order
        ret_cols: list[str] = []
        if shape == "nodes":
            multi = n > 1
            in_order = small and isinstance(scans[0], pa.Table)
            frames = []
            for i, el in enumerate(pattern):
                df = frame(i)
                if stmt.as_of is not None and df.columns != element(i)[2]:
                    # a drifted version rebinds against its own columns
                    # (the pruning above stays conservative: a field the
                    # version lacks has no stats)
                    wheres[i] = _bind_where(
                        stmt.where, [(aliases[i], specs[i], df.columns)]
                    )
                df = df.filter(_where_col(wheres[i]))
                if stmt.return_fields or stmt.return_aggs:
                    cols: list[Column | str] = [F.col(ID_COLUMN)]
                    ret_cols = ["_label"] if multi else []
                    for rf, user_al in _return_items(stmt):
                        q, f = rf.split(".", 1) if "." in rf else (None, rf)
                        outn = user_al or (f"{q}_{f}" if q else f)
                        ret_cols.append(outn)
                        if q in (None, aliases[i]) and f in df.columns:
                            cols.append(F.col(f).alias(outn) if q or user_al else f)
                        elif multi:
                            # the field of another element, or undeclared
                            cols.append(F.lit(None).cast("string").alias(outn))
                        else:
                            raise EngineError(
                                f"RETURN field {rf!r} not found on type {el.type!r}"
                                + (f" (alias {aliases[i]!r})" if q else "")
                            )
                    df = df.select(*cols)
                if multi:
                    df = df.select(
                        F.lit(el.type).alias("_label"),
                        F.col(ID_COLUMN),
                        *[
                            F.col(c).cast("string").alias(c)
                            for c in df.columns
                            if c != ID_COLUMN
                        ],
                    )
                frames.append(df)
            out = frames[0]
            for f2 in frames[1:]:
                out = out.unionByName(f2, allowMissingColumns=True)
            id_cols = [ID_COLUMN]
        else:
            if shape == "chain":
                rows = None
                if all(isinstance(t, pa.Table) for t in scans):
                    rows = _chain_rows(scans, hows)
                if rows is not None:
                    fields: list[ST.StructField] = []
                    columns: list[pa.ChunkedArray] = []
                    for e, t in enumerate(scans):
                        take = pa.array([r[e] for r in rows], type=pa.int64())
                        columns.extend(t.take(take).columns)  # a None index pads
                        fields.extend(
                            ST.StructField(
                                f"{aliases[e]}_{f.name}",
                                f.dataType,
                                f.nullable or padded[e],
                            )
                            for f in self.tables[keys[e]].schema
                        )
                    schema = ST.StructType(fields)
                    out = self._local_frame(
                        pa.Table.from_arrays(columns, names=schema.fieldNames()), schema
                    )
                    in_order = True
                else:
                    out = prefixed(0)
                    for h, (src_how, dst_how) in enumerate(hows):
                        i = 2 * h + 1
                        out = out.join(
                            prefixed(i),
                            F.col(f"{aliases[i]}_{SRC_COLUMN}")
                            == F.col(f"{aliases[i - 1]}_{ID_COLUMN}"),
                            src_how,
                        ).join(
                            prefixed(i + 1),
                            F.col(f"{aliases[i]}_{DST_COLUMN}")
                            == F.col(f"{aliases[i + 1]}_{ID_COLUMN}"),
                            dst_how,
                        )
            else:
                # Hop composition goes through the edge's declared
                # endpoint labels: endpoint IDs live in per-label key
                # spaces, so a heterogeneous edge (X->Y) admits exactly
                # one hop and deeper layers are provably empty.
                et = self.catalog.edge(pattern[1].type)
                hi = pattern[1].max_hops if et.from_ep.label == et.to_ep.label else 1
                pairs = _reach_pairs(scans[1], pattern[1].min_hops, hi)
                # r12: OPTIONAL on the *bounds edge = left-outer
                # composition: every left-endpoint row survives, and rows
                # with no reachable right endpoint NULL-pad hops and the
                # right node's columns. The (pairs ⋈ right) inner block
                # builds first so the outer join NULL-pads it as a unit.
                inner = pairs.join(
                    prefixed(2), F.col("_d") == F.col(f"{aliases[2]}_{ID_COLUMN}")
                )
                out = (
                    prefixed(0)
                    .join(
                        inner,
                        F.col("_s") == F.col(f"{aliases[0]}_{ID_COLUMN}"),
                        "left" if pattern[1].optional else "inner",
                    )
                    .withColumn(f"{aliases[1]}_hops", F.col("_hops").cast("long"))
                    .drop("_s", "_d", "_hops")
                )
            if stmt.where:
                out = out.filter(_where_col(where, aliases))
            ends = [i for i in range(n) if shape == "chain" or i % 2 == 0]
            id_cols = [f"{aliases[i]}_{ID_COLUMN}" for i in ends]
            if stmt.return_fields or stmt.return_aggs:
                hops = f"{aliases[1]}_hops"
                cols = list(id_cols) + ([hops] if shape == "reach" else [])
                for rf, user_al in _return_items(stmt):
                    if shape == "reach" and rf in ("hops", f"{aliases[1]}.hops"):
                        if not user_al:
                            ret_cols.append(hops)
                            continue  # always projected as <alias>_hops
                        src = hops
                    else:
                        owner, bare = _return_field_owner(
                            rf,
                            [aliases[i] for i in ends],
                            [specs[i] for i in ends],
                            "not found in pattern"
                            if shape == "chain"
                            else "not found on the endpoint types",
                        )
                        src = f"{owner}_{bare}"
                    ret_cols.append(user_al or src)
                    cols.append(F.col(src).alias(user_al) if user_al else src)
                out = out.select(*cols)

        # Order and limit: the user's keys, then the tiebreak — the
        # union's _label, then each id column numeric-aware ('2' < '10')
        if stmt.return_distinct and not stmt.return_fields:
            # the parser only sets the flag with explicit return fields;
            # this guards programmatic ASTs
            raise EngineError("RETURN DISTINCT requires explicit return fields")
        tiebreak = [F.col("_label")] if shape == "nodes" and n > 1 else []
        tiebreak += [k for c in id_cols for k in (F.length(c), F.col(c))]
        out = _apply_order_limit(
            out,
            stmt,
            [] if in_order else tiebreak,
            distinct_cols=ret_cols if stmt.return_distinct else None,
        )
        return StatementResult("match", "", count=-1, df=out)

    # ------------------------------------------------- SHOW / DESCRIBE

    def _explain(self, stmt: ast.ExplainStmt) -> StatementResult:
        """EXPLAIN MATCH ... : compile the pattern through ``_match``,
        the one MATCH compiler (the plan shown IS the plan that would
        run), and return the zone-pruning decisions of its element
        scans, in scan order, then the formatted physical plan, one
        line per row, instead of executing it. The plan-audit surface
        (plan_expectations.py) through the GQL wire protocol. Plan text
        comes straight from the JVM (plan_string), not a stdout
        capture, so concurrent engines can't interleave output."""
        from grapho_spark.plan_expectations import plan_string

        self._prune_log.clear()
        res = self._match(stmt.target)
        # zone-pruning audit (r13): surface the manifest-level leaf
        # decisions the Spark plan can't show (they happen BEFORE the
        # relation is built — the FileScan only lists survivors)
        prune_lines = [
            (
                f"ZonePruning: {k} {n}: kept {kept}/{total} leafs"
                f" (bloom probe: {mode})",
            )
            for k, n, kept, total, mode in self._prune_log
        ]
        self._prune_log.clear()
        lines = prune_lines + [
            (ln,) for ln in plan_string(res.df, "formatted").splitlines() if ln.strip()
        ]
        df = self._local_frame(lines, "plan string")
        return StatementResult(
            kind="explain",
            message=f"Explained MATCH: {len(lines)} plan lines",
            count=len(lines),
            df=df,
        )

    def _show(self, stmt: ast.ShowStmt) -> StatementResult:
        if stmt.kind == "VERSIONS":
            kind = "node" if self.catalog.node(stmt.target) else (
                "edge" if self.catalog.edge(stmt.target) else None
            )
            if kind is None:
                raise EngineError(f"type {stmt.target!r} does not exist")
            versions = self.table_versions(kind, stmt.target)
            latest = versions[-1] if versions else -1

            def _vkind(v: int) -> tuple[str, int, int]:
                """(layout, n_buckets_owned, bucket_n): full/partial
                versions are bucket-complete via their _BUCKETS.json
                owner map (bucket_n = the map's n, which adaptive
                re-bucketing grows over the table's life); delta
                versions are insert-only appends; legacy is the
                pre-r10 whole-dir layout."""
                if self._is_delta_version(kind, stmt.target, v):
                    return "delta", 0, 0
                bm = self._bucket_map(kind, stmt.target, v)
                if bm is None:
                    return "legacy", 0, 0
                owned = sum(1 for o in bm["map"].values() if int(o) == v)
                layout = "full" if owned == len(bm["map"]) else "partial"
                if os.path.exists(
                    os.path.join(
                        self.data_dir, "tables", f"{kind}_{stmt.target}",
                        f"v{v}", "_LEAF_GC",
                    )
                ):
                    # kept past retention only as a bucket-leaf
                    # dependency; not directly servable
                    layout += "(gc)"
                return layout, owned, int(bm["n"])
            rows = []
            for v in versions:
                layout, owned, n = _vkind(v)
                rows.append(
                    (
                        stmt.target,
                        v,
                        v == latest,
                        layout,
                        owned,
                        len(self._chain_versions(kind, stmt.target, v)),
                        n,
                    )
                )
            df = self._local_frame(
                rows,
                "name string, version long, is_latest boolean, "
                "layout string, buckets_owned int, chain_len int, "
                "bucket_n int",
            )
            return StatementResult("show", "", count=-1, df=df)
        if stmt.kind == "NODES":
            rows = [
                (n.name, len(n.fields), n.pk, self.catalog.version)
                for n in sorted(self.catalog.nodes, key=lambda n: n.name)
            ]
            df = self._local_frame(
                rows, "name string, n_fields int, pk string, catalog_version long"
            )
        else:
            rows = [
                (
                    e.name,
                    e.from_ep.label,
                    e.from_ep.card.value,
                    e.to_ep.label,
                    e.to_ep.card.value,
                    len(e.props),
                )
                for e in sorted(self.catalog.edges, key=lambda e: e.name)
            ]
            df = self._local_frame(
                rows,
                "name string, from_label string, from_card string, "
                "to_label string, to_card string, n_props int",
            )
        return StatementResult("show", "", count=-1, df=df)

    def _describe(self, stmt: ast.DescribeStmt) -> StatementResult:
        if stmt.kind == "NODE":
            nt = self.catalog.node(stmt.name)
            if nt is None:
                raise EngineError(f"node type {stmt.name!r} does not exist")
            rows = [
                (
                    f.name,
                    f.type.render(),
                    f.name == nt.pk,
                    f.unique,
                    f.not_null,
                    f.default.text if f.default else None,
                )
                for f in nt.fields
            ]
        else:
            et = self.catalog.edge(stmt.name)
            if et is None:
                raise EngineError(f"edge type {stmt.name!r} does not exist")
            rows = [
                (p.name, p.type.render(), False, p.unique, p.not_null,
                 p.default.text if p.default else None)
                for p in et.props
            ]
        df = self._local_frame(
            rows,
            "field string, type string, primary_key boolean, is_unique boolean, "
            "not_null boolean, default_value string",
        )
        return StatementResult("describe", "", count=-1, df=df)


def _spark_to_type_spec(dt: ST.DataType) -> TypeSpec:
    from grapho_spark.gql.ast import BaseType

    if isinstance(dt, ST.ArrayType):
        return TypeSpec(elem=_spark_to_type_spec(dt.elementType))
    mapping = {
        ST.StringType: BaseType.STRING,
        ST.LongType: BaseType.INT,
        ST.IntegerType: BaseType.INT,
        ST.ShortType: BaseType.INT,
        ST.DoubleType: BaseType.FLOAT,
        ST.FloatType: BaseType.FLOAT,
        ST.BooleanType: BaseType.BOOL,
        ST.DateType: BaseType.DATE,
        ST.TimestampType: BaseType.DATETIME,
        ST.TimestampNTZType: BaseType.DATETIME,
        ST.BinaryType: BaseType.BLOB,
    }
    for cls, base in mapping.items():
        if isinstance(dt, cls):
            return TypeSpec(base=base)
    return TypeSpec(base=BaseType.STRING)
