"""Catalog data model: node/edge type metadata, versioned catalog.

Mirrors the semantics of /root/reference/catalog/types.go (NodeType
with fields/PK/indexes, EdgeType with endpoints/cardinality/props,
versioned copy-on-write Catalog) with a Python-immutable
representation: every mutation builds a NEW Catalog value, so readers
holding a snapshot are never affected (the reference achieves this
with deep clones + an atomic pointer, catalog/types.go:77-91,
catalog/registry.go:41-43).

Also owns the TypeSpec -> Spark DataType mapping (SURVEY.md §1.2).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import types as ST

from grapho_spark.gql.ast import BaseType, Cardinality, Endpoint, FieldDef, Literal, TypeSpec

ID_COLUMN = "_id"
SRC_COLUMN = "_src"
DST_COLUMN = "_dst"


@dataclass(frozen=True)
class FieldSpec:
    name: str
    type: TypeSpec
    not_null: bool = False
    unique: bool = False
    default: Literal | None = None

    @staticmethod
    def from_field_def(fd: FieldDef) -> FieldSpec:
        return FieldSpec(
            name=fd.name,
            type=fd.type,
            not_null=fd.not_null,
            unique=fd.unique or fd.primary_key,
            default=fd.default,
        )


@dataclass(frozen=True)
class IndexSpec:
    field: str
    unique: bool = True


@dataclass(frozen=True)
class NodeType:
    name: str
    fields: tuple[FieldSpec, ...] = ()
    pk: str = ""  # "" => internal synthetic id
    indexes: tuple[IndexSpec, ...] = ()
    # True for a type bound to existing data (GraphEngine.bind_node_type):
    # its _id is the primary key's text, so INSERT mints _id = str(pk)
    # instead of taking the next sequential id.
    pk_id: bool = False

    def field_map(self) -> dict[str, FieldSpec]:
        return {f.name: f for f in self.fields}


@dataclass(frozen=True)
class EdgeType:
    name: str
    from_ep: Endpoint = Endpoint("")
    to_ep: Endpoint = Endpoint("")
    props: tuple[FieldSpec, ...] = ()

    def prop_map(self) -> dict[str, FieldSpec]:
        return {p.name: p for p in self.props}


@dataclass(frozen=True)
class Catalog:
    version: int = 0
    nodes: tuple[NodeType, ...] = ()
    edges: tuple[EdgeType, ...] = ()

    def node(self, name: str) -> NodeType | None:
        for n in self.nodes:
            if n.name == name:
                return n
        return None

    def edge(self, name: str) -> EdgeType | None:
        for e in self.edges:
            if e.name == name:
                return e
        return None

    def with_node(self, nt: NodeType) -> Catalog:
        others = tuple(n for n in self.nodes if n.name != nt.name)
        return replace(self, version=self.version + 1, nodes=others + (nt,))

    def with_edge(self, et: EdgeType) -> Catalog:
        others = tuple(e for e in self.edges if e.name != et.name)
        return replace(self, version=self.version + 1, edges=others + (et,))

    def without_node(self, name: str) -> Catalog:
        return replace(
            self, version=self.version + 1, nodes=tuple(n for n in self.nodes if n.name != name)
        )

    def without_edge(self, name: str) -> Catalog:
        return replace(
            self, version=self.version + 1, edges=tuple(e for e in self.edges if e.name != name)
        )


# ---------------------------------------------------------------- Spark types

_BASE_TO_SPARK: dict[BaseType, ST.DataType] = {
    BaseType.STRING: ST.StringType(),
    BaseType.TEXT: ST.StringType(),
    BaseType.INT: ST.LongType(),
    BaseType.FLOAT: ST.DoubleType(),
    BaseType.BOOL: ST.BooleanType(),
    BaseType.UUID: ST.StringType(),
    BaseType.DATE: ST.DateType(),
    # Spark has no standalone TIME type: canonical 'HH:MM:SS' string.
    BaseType.TIME: ST.StringType(),
    BaseType.DATETIME: ST.TimestampType(),
    BaseType.JSON: ST.StringType(),
    BaseType.BLOB: ST.BinaryType(),
}


def spark_type(ts: TypeSpec) -> ST.DataType:
    if ts.elem is not None:
        return ST.ArrayType(spark_type(ts.elem))
    return _BASE_TO_SPARK[ts.base]  # enums are constrained strings


def node_struct(nt: NodeType) -> ST.StructType:
    fields = [ST.StructField(ID_COLUMN, ST.StringType(), False)]
    for f in nt.fields:
        fields.append(ST.StructField(f.name, spark_type(f.type), not f.not_null))
    return ST.StructType(fields)


def edge_struct(et: EdgeType) -> ST.StructType:
    fields = [
        ST.StructField(ID_COLUMN, ST.StringType(), False),
        ST.StructField(SRC_COLUMN, ST.StringType(), False),
        ST.StructField(DST_COLUMN, ST.StringType(), False),
    ]
    for p in et.props:
        fields.append(ST.StructField(p.name, spark_type(p.type), not p.not_null))
    return ST.StructType(fields)


# ---------------------------------------------------------------- JSON codec


def type_spec_to_json(ts: TypeSpec) -> dict:
    out: dict = {"base": ts.base.value}
    if ts.elem is not None:
        out["elem"] = type_spec_to_json(ts.elem)
    if ts.enum_vals:
        out["enum_vals"] = list(ts.enum_vals)
    return out


def type_spec_from_json(d: dict) -> TypeSpec:
    return TypeSpec(
        base=BaseType(d.get("base", "string")),
        elem=type_spec_from_json(d["elem"]) if "elem" in d else None,
        enum_vals=tuple(d.get("enum_vals", ())),
    )


def _literal_to_json(lit: Literal | None) -> dict | None:
    if lit is None:
        return None
    return {"kind": lit.kind.value, "text": lit.text}


def _literal_from_json(d: dict | None) -> Literal | None:
    if d is None:
        return None
    from grapho_spark.gql.ast import LiteralKind

    return Literal(LiteralKind(d["kind"]), d["text"])


def field_spec_to_json(f: FieldSpec) -> dict:
    return {
        "name": f.name,
        "type": type_spec_to_json(f.type),
        "not_null": f.not_null,
        "unique": f.unique,
        "default": _literal_to_json(f.default),
    }


def field_spec_from_json(d: dict) -> FieldSpec:
    return FieldSpec(
        name=d["name"],
        type=type_spec_from_json(d["type"]),
        not_null=d.get("not_null", False),
        unique=d.get("unique", False),
        default=_literal_from_json(d.get("default")),
    )


def catalog_to_json(c: Catalog) -> dict:
    return {
        "version": c.version,
        "nodes": [
            {
                "name": n.name,
                "fields": [field_spec_to_json(f) for f in n.fields],
                "pk": n.pk,
                "indexes": [{"field": i.field, "unique": i.unique} for i in n.indexes],
                **({"pk_id": True} if n.pk_id else {}),
            }
            for n in c.nodes
        ],
        "edges": [
            {
                "name": e.name,
                "from": {"label": e.from_ep.label, "card": e.from_ep.card.value},
                "to": {"label": e.to_ep.label, "card": e.to_ep.card.value},
                "props": [field_spec_to_json(p) for p in e.props],
            }
            for e in c.edges
        ],
    }


def catalog_from_json(d: dict) -> Catalog:
    nodes = tuple(
        NodeType(
            name=n["name"],
            fields=tuple(field_spec_from_json(f) for f in n["fields"]),
            pk=n.get("pk", ""),
            indexes=tuple(IndexSpec(i["field"], i["unique"]) for i in n.get("indexes", ())),
            pk_id=n.get("pk_id", False),
        )
        for n in d.get("nodes", ())
    )
    edges = tuple(
        EdgeType(
            name=e["name"],
            from_ep=Endpoint(e["from"]["label"], Cardinality(e["from"]["card"])),
            to_ep=Endpoint(e["to"]["label"], Cardinality(e["to"]["card"])),
            props=tuple(field_spec_from_json(p) for p in e.get("props", ())),
        )
        for e in d.get("edges", ())
    )
    return Catalog(version=d.get("version", 0), nodes=nodes, edges=edges)
