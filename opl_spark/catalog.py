"""Fact metadata catalog: dimensions, levels, hierarchies, measures.

Mirrors the reference's per-fact metadata contract — dimensions (flat
or leveled, with hierarchies and level attributes) and measures (with
allowed aggregates) per fact (reference: api-library-olap/README.md:
90-161; consumed by the connector, DataStudio-connector/
Codice.gs:84-137).  Where the reference reads one ``<factName>.json``
per fact, the facts here are declared in Python (``opl_spark.facts``);
each level and measure names its physical column directly.

The catalog is plain metadata — hierarchies are NOT a Spark construct;
they drive which physical columns the cube compiler's cut/drilldown
touch (SURVEY.md §1.1).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Level:
    """One level of a dimension: a named key column + co-grouped attribute
    columns (e.g. ``consortia_id`` + ``consortia_label``; reference:
    Codice.gs:87-99)."""

    name: str
    column: str | None = None  # physical column; defaults to name
    attributes: tuple[str, ...] = ()

    @property
    def physical(self) -> str:
        return self.column or self.name


@dataclass(frozen=True)
class Hierarchy:
    """Named ordering over a dimension's levels (reference:
    api-library-olap/README.md:112-117 ``"order": [...]``)."""

    name: str
    order: tuple[str, ...]


@dataclass(frozen=True)
class Dimension:
    name: str
    label: str = ""
    levels: tuple[Level, ...] = ()
    hierarchies: tuple[Hierarchy, ...] = ()

    def __post_init__(self) -> None:
        if not self.levels:
            # flat dimension: itself is its only level
            object.__setattr__(self, "levels", (Level(self.name),))

    def level(self, name: str) -> Level:
        for lv in self.levels:
            if lv.name == name:
                return lv
        raise KeyError(f"dimension {self.name!r} has no level {name!r}")

    def level_of_attribute(self, attribute: str) -> Level | None:
        """The level that carries ``attribute`` as a co-grouped column,
        if any.  The Data Studio connector addresses levels by their
        attribute names (Codice.gs:289-297 ``verifyAttributes`` returns
        the matched attribute, which then lands in the drilldown string
        as ``dim:attribute``), so the grammar must resolve them."""
        for lv in self.levels:
            if attribute in lv.attributes:
                return lv
        return None

    def hierarchy_order(self, hierarchy: str | None = None) -> tuple[str, ...]:
        """Resolve the level order to walk for cuts/drilldowns.

        Default hierarchy = the first declared one, else the declared
        level order itself (a flat dimension's order is just [name]).
        """
        if hierarchy is not None:
            for h in self.hierarchies:
                if h.name == hierarchy:
                    return h.order
            raise KeyError(f"dimension {self.name!r} has no hierarchy {hierarchy!r}")
        if self.hierarchies:
            return self.hierarchies[0].order
        return tuple(lv.name for lv in self.levels)


@dataclass(frozen=True)
class Measure:
    """Dependent variable + its allowed aggregates; the FIRST aggregate
    is the default (reference: api-library-olap/README.md:81-88,131-149)."""

    name: str
    label: str = ""
    column: str | None = None
    aggregates: tuple[str, ...] = ("sum",)

    @property
    def physical(self) -> str:
        return self.column or self.name

    @property
    def default_aggregate(self) -> str:
        return self.aggregates[0]


@dataclass(frozen=True)
class FactMeta:
    """Complete metadata for one fact table."""

    name: str
    label: str = ""
    dimensions: tuple[Dimension, ...] = ()
    measures: tuple[Measure, ...] = ()

    def dimension(self, name: str) -> Dimension:
        for d in self.dimensions:
            if d.name == name:
                return d
        raise KeyError(f"fact {self.name!r} has no dimension {name!r}")

    def measure(self, name: str) -> Measure:
        for m in self.measures:
            if m.name == name:
                return m
        raise KeyError(f"fact {self.name!r} has no measure {name!r}")

    @property
    def default_measure(self) -> Measure:
        """No ``measure`` param → first declared measure
        (api-library-olap/README.md:82)."""
        if not self.measures:
            raise ValueError(f"fact {self.name!r} declares no measures")
        return self.measures[0]


class Catalog:
    """All facts known to the engine + the metadata API surface
    (M1-M3: /fact_tables, /dimensions, /measures;
    api-library-olap/README.md:6-13)."""

    def __init__(self, facts: dict[str, FactMeta] | None = None) -> None:
        self._facts: dict[str, FactMeta] = dict(facts or {})

    def add(self, fact: FactMeta) -> None:
        self._facts[fact.name] = fact

    def fact(self, name: str) -> FactMeta:
        if name not in self._facts:
            raise KeyError(f"unknown fact table {name!r}")
        return self._facts[name]

    # ---- metadata endpoints (M1-M3) ----

    def fact_tables(self) -> list[dict[str, str]]:
        """``/olap/fact_tables`` → ``[{name, label}]``."""
        return [{"name": f.name, "label": f.label or f.name} for f in self._facts.values()]

    def dimensions(self, fact: str) -> list[dict]:
        """``/olap/<fact>/dimensions`` → dims with levels/hierarchies."""
        out = []
        for d in self.fact(fact).dimensions:
            out.append(
                {
                    "name": d.name,
                    "label": d.label or d.name,
                    "levels": [
                        {"name": lv.name, "column": lv.physical, "attributes": list(lv.attributes)}
                        for lv in d.levels
                    ],
                    "hierarchies": [
                        {"name": h.name, "order": list(h.order)} for h in d.hierarchies
                    ],
                }
            )
        return out

    def measures(self, fact: str) -> list[dict]:
        """``/olap/<fact>/measures`` → measures + allowed aggregations."""
        return [
            {
                "name": m.name,
                "label": m.label or m.name,
                "column": m.physical,
                "aggregates": list(m.aggregates),
            }
            for m in self.fact(fact).measures
        ]
