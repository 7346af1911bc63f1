"""The OLAP HTTP API surface, transport-free.

Routes and response shapes follow the reference API spec
(api-library-olap/README.md:4-19 endpoints; the connector,
DataStudio-connector/Codice.gs:42,20-26,349,361-373, is the observed
client): ``handle(path, params)`` returns JSON-serializable Python
values, so any transport (Flask/FastAPI/lambda) is a three-line shim.

Aggregate responses materialize driver-side — they are the OUTPUT of a
cube aggregation (dimension-cardinality-sized), never a raw fact scan;
the heavy lifting stays distributed inside ``CubeEngine.aggregate``.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any

from opl_spark.cube import CORE_PARAMS, CubeEngine, to_table


class OlapApi:
    """Dispatcher for the four documented endpoints:

    - ``/olap/fact_tables``                       (M1)
    - ``/olap/<fact>/dimensions``                 (M2)
    - ``/olap/<fact>/measures``                   (M3)
    - ``/olap/<fact>/aggregate?cut=&drilldown=&measure=&aggregate=&output=``

    ``plan_cache_size`` (default 128; 0 disables) bounds one LRU of
    ``/aggregate`` payloads.  Dashboards repeat a small set of
    aggregate requests verbatim; a repeat returns the payload the first
    request built and runs no Spark job.  The key is (fact, frame
    version, lattice version, plan params, output kind):

    - the frame version is :meth:`CubeEngine.frame_version`, which
      every fact re-registration bumps;
    - the lattice version is :meth:`RollupStore.lattice_version` (the
      manifest's mtime; ``None`` without a lattice), which every
      ``materialize`` changes;
    - the plan params are the ``_PLAN_PARAMS`` present, so junk params
      share a slot;
    - the output kind is ``output=table`` vs JSON rows.

    A miss builds a fresh plan over the current frame and lattice, so
    no cached object outlives the files it reads.  Only successful
    payloads are stored — errors always re-run.  ``/explain`` and
    ``/drill_across`` are never cached; ``/explain`` calls the builder
    a miss calls, so it previews exactly the plan ``/aggregate`` runs.

    Payloads are SHARED and read-only: every repeat of a request gets
    the same object, so callers encode, print or read it and never
    mutate it (the HTTP server, the CLI, bench.py and the examples
    do only that)."""

    _STATS = ("hits", "misses", "evictions")

    def __init__(
        self, engine: CubeEngine, rollups=None, plan_cache_size: int = 128
    ):
        self.engine = engine
        self.catalog = engine.catalog
        #: optional opl_spark.rollups.RollupStore — core aggregate
        #: requests route through the materialized lattice when set
        #: (identical results either way; tests/test_rollups.py pins it)
        self.rollups = rollups
        self._cache_size = max(0, int(plan_cache_size))
        #: cache key -> payload, least recently used first
        self._cache: OrderedDict[tuple, Any] = OrderedDict()
        self._stats = dict.fromkeys(self._STATS, 0)
        # the server answers concurrent requests on parallel worker
        # threads, which mutate the LRU (move_to_end / popitem) — guard
        # the compound ops
        self._lock = threading.Lock()

    def cache_stats(self) -> dict[str, int]:
        """Cache counters since construction (a disabled cache counts
        nothing): ``hits`` / ``misses`` count ``/aggregate`` requests
        for a known fact answered from / not found in the cache, so
        each such request counts once; ``evictions`` counts payloads
        the LRU bound dropped."""
        with self._lock:
            return dict(self._stats)

    def clear_plan_cache(self) -> None:
        """Drop every cached payload.  Fact re-registration and lattice
        rewrites invalidate structurally (see the class docstring);
        call this for out-of-band changes the key can't see — e.g.
        re-configuring the rollup lattice's routing."""
        with self._lock:
            self._cache.clear()

    def handle(self, path: str, params: dict[str, str] | None = None) -> Any:
        params = params or {}
        parts = [p for p in path.split("/") if p]
        if not parts or parts[0] != "olap":
            raise KeyError(f"unknown route {path!r}")
        if parts[1:] == ["fact_tables"]:
            return self.catalog.fact_tables()
        if parts[1:] == ["drill_across"]:
            return self._drill_across(params)
        if len(parts) == 3:
            fact, endpoint = parts[1], parts[2]
            if endpoint == "dimensions":
                return self.catalog.dimensions(fact)
            if endpoint == "measures":
                return self.catalog.measures(fact)
            if endpoint == "aggregate":
                return self._aggregate(fact, params)
            if endpoint == "explain":
                return self._explain(fact, params)
        raise KeyError(f"unknown route {path!r}")

    def _drill_across(self, params: dict[str, str]) -> Any:
        facts = [f for f in (params.get("facts") or "").split(",") if f]
        for f in facts:
            self.catalog.fact(f)  # unknown fact -> KeyError -> 404
        try:
            df = self.engine.drill_across(
                facts,
                drilldown=params.get("drilldown") or "",
                cut=params.get("cut"),
                measure=params.get("measure"),
                hierarchy=params.get("hierarchy"),
            )
        except KeyError as exc:
            raise ValueError(str(exc)) from exc
        return self._materialize(df, params)

    # the params _build_aggregate_df actually consumes — the cache key
    # must fold in nothing else, or requests differing only in junk
    # parameters occupy distinct LRU slots and evict the hot dashboard
    # payloads the cache exists for (ADVICE r12).  Defined ONCE and
    # consumed by BOTH _cache_key and _plan_kwargs (ADVICE r12, low):
    # the builder reads request params exclusively through
    # _plan_kwargs, so a future parameter added there without extending
    # this tuple is structurally impossible — the lockstep is pinned by
    # tests/test_http_server.py::test_plan_params_single_source.
    _CORE_PLAN_PARAMS = CORE_PARAMS
    _EXT_PLAN_PARAMS = ("top_n", "top_within", "having", "share", "share_within")
    _PLAN_PARAMS = _CORE_PLAN_PARAMS + _EXT_PLAN_PARAMS

    @classmethod
    def _plan_kwargs(cls, params: dict[str, str]) -> dict:
        """The ONE place request params become aggregate kwargs — every
        name here is in _PLAN_PARAMS by construction (keys are drawn
        from it), so the cache key can never miss a consumed param."""
        kw = {k: params.get(k) for k in cls._CORE_PLAN_PARAMS}
        kw["top_n"] = int(params["top_n"]) if "top_n" in params else None
        if kw["top_n"] is not None and kw["top_n"] < 0:
            raise ValueError(f"top_n must be >= 0, got {kw['top_n']}")
        kw["top_within"] = params.get("top_within")
        kw["having"] = params.get("having")
        kw["share"] = params.get("share") in ("1", "true", "yes")
        kw["share_within"] = params.get("share_within")
        return kw

    def _cache_key(
        self, fact: str, params: dict[str, str], lattice: int | None = None
    ) -> tuple:
        return (
            fact,
            self.engine.frame_version(fact),
            lattice,
            tuple(
                (k, params[k]) for k in self._PLAN_PARAMS if k in params
            ),
            "table" if params.get("output") == "table" else "rows",
        )

    def _build_aggregate_df(self, fact: str, params: dict[str, str]):
        """ONE plan builder for ``/aggregate`` and ``/explain`` — the
        explain contract ('previews exactly the plan aggregate runs')
        holds by construction because both routes call this.  Core
        requests route through the rollup lattice when configured;
        extension params always go to the live engine."""
        kw = self._plan_kwargs(params)
        try:
            if self.rollups is not None:
                # the lattice answers the core and post-processes
                # share/having/top_n on the routed report (r12 verdict
                # task 5); non-routable requests fall back inside
                return self.rollups.aggregate(self.engine, fact, **kw)
            return self.engine.aggregate(fact, **kw)
        except KeyError as exc:
            # a bad PARAMETER column (having/top_within/share_within)
            # is a malformed request (400), not a missing route (404)
            raise ValueError(str(exc)) from exc

    def _explain(self, fact: str, params: dict[str, str]) -> Any:
        """``/olap/<fact>/explain?...`` — the aggregate request's
        PRE-FLIGHT cost preview: plan shape counts + estimated scan
        bytes, nothing executes.  (Engine extension: the reference has
        no explain surface.)"""
        from opl_spark.plans.inspect import cost_report

        self.catalog.fact(fact)
        return cost_report(self._build_aggregate_df(fact, params))

    def _aggregate(self, fact: str, params: dict[str, str]) -> Any:
        self.catalog.fact(fact)  # unknown fact -> KeyError -> 404
        if not self._cache_size:
            return self._materialize(self._build_aggregate_df(fact, params), params)
        # the lattice version is read BEFORE the plan is built: a
        # lattice rewritten mid-request leaves this payload under the
        # old version, which no later request matches
        lattice = None if self.rollups is None else self.rollups.lattice_version(fact)
        key = self._cache_key(fact, params, lattice)
        with self._lock:
            payload = self._cache.get(key)
            if payload is not None:
                self._cache.move_to_end(key)
                self._stats["hits"] += 1
                return payload
            self._stats["misses"] += 1
        payload = self._materialize(self._build_aggregate_df(fact, params), params)
        with self._lock:
            self._cache[key] = payload
            self._cache.move_to_end(key)  # a concurrent miss may have stored it
            if len(self._cache) > self._cache_size:
                self._cache.popitem(last=False)
                self._stats["evictions"] += 1
        return payload

    @staticmethod
    def _materialize(df, params: dict[str, str]) -> Any:
        if params.get("output") == "table":
            # S11 — first row = column names, then value rows
            # (Codice.gs:349 request / 155-184 consumption)
            return to_table(df)
        rows = [r.asDict() for r in df.collect()]
        if not rows:
            # P7 — the connector zero-fills on this marker
            # (Codice.gs:361-373)
            return {"message": "empty_dataset"}
        return {"data": rows}
