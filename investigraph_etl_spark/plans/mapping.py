"""Declarative mapping compiler (SURVEY.md §2.2 P1-P8, §2.4 A1).

Compiles the reference's YAML ``QueryMapping``
(/root/reference/investigraph/model/mapping.py:13-53; applied per-record
at /root/reference/investigraph/logic/transform.py:18-26) into pure
Spark column expressions — one logical plan per mapping, no per-row
Python at all.  The reference maps record→entities one dict at a time;
here the whole source maps in one codegen'd projection.

Output is **statement form** — one row per (entity id, property,
value): the exploded relational shape of an FtM entity
(SURVEY.md §1.1), which is what a CDC/lake pipeline wants.  Entities
re-assemble via :func:`entities_from_statements`, whose value-union
merge preserves the reference's fragment-merge semantics
(/root/reference/investigraph/logic/export.py:25-33 — per-property set
union of values across fragments with the same id).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from investigraph_etl_spark.functions.ids import make_slug
from investigraph_etl_spark.functions.text import clean_url, str_or_none

_TEMPLATE_RE = re.compile(r"\{\{\s*([^}]+?)\s*\}\}")
# FtM property-mapping fields this compiler does not implement
_FTM_UNSUPPORTED = ("entity", "format", "fuzzy")


class UnsupportedMappingFieldError(ValueError):
    """A property mapping uses a field the compiler does not support —
    an FtM field it does not implement (``entity:``, ``format:``,
    ``fuzzy:``) or a misspelt one.  Raised at parse time instead of
    dropping the field."""


@dataclass
class PropertyMapping:
    """One property spec (reference PropertyMapping, mapping.py:13-24)."""

    column: str | None = None
    columns: list[str] | None = None
    literal: str | None = None
    literals: list[str] | None = None
    template: str | None = None
    split: str | None = None
    join: str | None = None
    required: bool = False
    # FtM cleans values by property *type* on entity.add (SURVEY §1.2,
    # /root/reference/investigraph/util.py:41-43, asserted upstream at
    # tests/test_util.py:23-27 — country "France" → "fr"); the compiler
    # applies the matching vectorized cleaner here
    type: str | None = None  # None | "url" | "country" | "date" | "datetime"

    def values(self) -> Column:
        """array<string> of cleaned values for this property."""
        if self.literal is not None:
            vals = F.array(F.lit(self.literal))
        elif self.literals is not None:
            vals = F.array(*[F.lit(v) for v in self.literals])
        elif self.template is not None:
            # "{{Col}} text {{Other}}" → format_string with col refs
            cols = _TEMPLATE_RE.findall(self.template)
            fmt = _TEMPLATE_RE.sub("%s", self.template)
            vals = F.array(F.format_string(fmt, *[F.col(c).cast("string") for c in cols]))
        elif self.columns:
            vals = F.array(*[F.col(c).cast("string") for c in self.columns])
        elif self.column is not None:
            vals = F.array(F.col(self.column).cast("string"))
        else:
            vals = F.array().cast("array<string>")
        if self.join is not None:
            vals = F.array(F.array_join(vals, self.join))
        if self.split is not None:
            vals = F.flatten(F.transform(vals, lambda v: F.split(v, re.escape(self.split))))
        from investigraph_etl_spark.functions.countries import clean_country
        from investigraph_etl_spark.functions.dates import clean_date, clean_datetime

        cleaner = {
            "url": clean_url,
            "country": clean_country,
            "date": clean_date,
            "datetime": clean_datetime,
        }.get(self.type, str_or_none)
        cleaned = F.transform(vals, lambda v: cleaner(v))
        return F.array_compact(cleaned)


@dataclass
class EntityMapping:
    """One entity spec (reference EntityMapping, mapping.py:27-33).

    Entity id: ``prefix-[key_literal-]slug(key values…)`` — matches the
    reference's golden output
    (tests/fixtures/eu_authorities.ftm.json: ``eu-authorities-a29wp``
    for ``key: URL name`` value ``A29WP``)."""

    schema: str
    key: str | None = None
    keys: list[str] = field(default_factory=list)
    key_literal: str | None = None
    id_column: str | None = None
    properties: dict[str, PropertyMapping] = field(default_factory=dict)

    def entity_id(self, prefix: str) -> Column:
        if self.id_column:
            return F.col(self.id_column).cast("string")
        key_cols = [self.key] if self.key else list(self.keys)
        parts: list[Column] = []
        if self.key_literal:
            parts.append(F.lit(self.key_literal))
        parts += [F.col(k) for k in key_cols]
        return make_slug(*parts, prefix=prefix)


@dataclass
class QueryMapping:
    """Filters + entity specs (reference QueryMapping, mapping.py:36-44)."""

    entities: dict[str, EntityMapping]
    filters: dict[str, str] = field(default_factory=dict)
    filters_not: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_dict(
        cls,
        spec: dict,
        *,
        validate: bool = True,
        extra_schemata: set[str] | None = None,
        extra_properties: set[str] | None = None,
    ) -> QueryMapping:
        """Parse the reference's YAML query shape.  ``validate`` checks
        each entity's schema AND property names against the embedded FtM
        vocabulary at parse time (reference mapping.py:32 via the FtM
        model) so typos fail fast instead of flowing silently into the
        statement store."""
        from investigraph_etl_spark.functions.ftm import (
            validate_property,
            validate_schema,
        )

        ents = {}
        for name, e in spec.get("entities", {}).items():
            props = {
                p: _property_mapping(name, p, pm)
                for p, pm in e.get("properties", {}).items()
            }
            schema = e["schema"]
            if validate:
                validate_schema(schema, extra=extra_schemata)
                for p in props:
                    validate_property(p, extra=extra_properties)
            ents[name] = EntityMapping(
                schema=schema,
                key=e.get("key"),
                keys=list(e.get("keys", [])),
                key_literal=e.get("key_literal"),
                id_column=e.get("id_column"),
                properties=props,
            )
        return cls(
            entities=ents,
            filters=dict(spec.get("filters", {})),
            filters_not=dict(spec.get("filters_not", {})),
        )


def _property_mapping(entity: str, prop: str, spec: dict) -> PropertyMapping:
    known = {f.name for f in fields(PropertyMapping)}
    for name in sorted(set(spec) - known):
        what = (
            "an FtM field this compiler does not implement"
            if name in _FTM_UNSUPPORTED
            else f"unknown; supported: {', '.join(sorted(known))}"
        )
        raise UnsupportedMappingFieldError(
            f"entity {entity!r}, property {prop!r}: mapping field {name!r} is {what}"
        )
    return PropertyMapping(**spec)


def compile_statements(
    records: DataFrame, mapping: QueryMapping, *, dataset: str, prefix: str
) -> DataFrame:
    """records → statement rows ``(id, schema, prop, value, dataset)``.

    One filtered projection per (entity, property), unioned then
    exploded — Catalyst collapses the shared scan; filters are pushed
    to the source (P5 ``check_filters`` before map, transform.py:22).
    """
    df = records
    for col, val in mapping.filters.items():
        df = df.filter(F.col(col) == F.lit(val))
    for col, val in mapping.filters_not.items():
        df = df.filter((F.col(col) != F.lit(val)) | F.col(col).isNull())

    outs: list[DataFrame] = []
    for ent in mapping.entities.values():
        eid = ent.entity_id(prefix)
        required = [p for p, pm in ent.properties.items() if pm.required]
        props = F.map_from_arrays(
            F.array(*[F.lit(p) for p in ent.properties]),
            F.array(*[pm.values() for pm in ent.properties.values()]),
        )
        ent_df = df.select(
            eid.alias("id"),
            F.lit(ent.schema).alias("schema"),
            F.explode(props).alias("prop", "vals"),
        )
        # drop empty-valued props; drop whole entity if a required prop
        # is empty (P6) — required check must see all props, so window-free
        # trick: compute required emptiness before the explode
        if required:
            keep = None
            for p in required:
                cond = F.size(ent.properties[p].values()) > 0
                keep = cond if keep is None else (keep & cond)
            ent_df = df.filter(keep).select(
                eid.alias("id"),
                F.lit(ent.schema).alias("schema"),
                F.explode(props).alias("prop", "vals"),
            )
        stmts = ent_df.select(
            "id", "schema", "prop", F.explode("vals").alias("value")
        ).withColumn("dataset", F.lit(dataset))
        outs.append(stmts)

    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result.filter(F.col("id").isNotNull() & (F.col("id") != prefix))


def entities_from_statements(statements: DataFrame) -> DataFrame:
    """Merge statements into entities (A1 — the reference's keyed
    value-union fragment merge, export.py:25-33).

    ``(id, schema, properties map<string,array<string>>, datasets)``;
    one hash-agg shuffle on id with map-side combine.  Schema conflict
    resolution: lexicographic min (stand-in for FtM's common-ancestor
    downgrade — no FtM model ships here; deterministic either way).
    Value arrays sorted for deterministic output.
    """
    per_prop = (
        statements.groupBy("id", "prop")
        .agg(
            F.min("schema").alias("schema"),
            F.array_sort(F.collect_set("value")).alias("values"),
            F.collect_set("dataset").alias("datasets"),
        )
    )
    return (
        per_prop.groupBy("id")
        .agg(
            F.min("schema").alias("schema"),
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("prop", "values")))
            ).alias("properties"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("datasets")))).alias(
                "datasets"
            ),
        )
    )
