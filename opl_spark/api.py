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

from opl_spark.cube import CubeEngine, to_table


class OlapApi:
    """Dispatcher for the four documented endpoints:

    - ``/olap/fact_tables``                       (M1)
    - ``/olap/<fact>/dimensions``                 (M2)
    - ``/olap/<fact>/measures``                   (M3)
    - ``/olap/<fact>/aggregate?cut=&drilldown=&measure=&aggregate=&output=``

    ``plan_cache_size`` (default 128; 0 disables) bounds one LRU that
    serves dashboards, which repeat a small set of aggregate requests
    verbatim, at two depths:

    - PLANS: identical (fact, frame version, lattice version, plan
      params) requests reuse the built DataFrame, whose analyzed plan
      Spark caches on the object — no grammar compilation or Catalyst
      re-analysis.  The lattice version is
      :meth:`RollupStore.lattice_version` (the manifest's mtime;
      ``None`` without a lattice).  ``/aggregate`` and ``/explain``
      share these entries.
    - RESPONSES: an ``/aggregate`` request that repeats returns the
      payload its plan already produced, so a repeat runs no Spark
      job.  A response is keyed by the plan's key plus the output
      kind (``output=table`` vs JSON rows).  It is served only while
      the plan entry that produced it is cached: evicting or replacing
      the plan drops its responses.  Only successful payloads are
      kept — errors always re-run.

    Invalidation: re-registering a fact bumps its frame version, and
    ``materialize``/``refresh`` rewrite the lattice manifest (a new
    lattice version) — either way a new key for plans and responses,
    so a lattice rewritten from different data is never answered by a
    plan built over the old one; :meth:`clear_plan_cache` drops both.
    Staleness horizon is that of a cached plan, which reads the same
    registered frame (and its file listing) a fresh build would.

    Memory bound: at most ``plan_cache_size`` plans, each with up to
    two report-sized responses.

    Payloads are SHARED and read-only: every repeat of a request gets
    the same object, so callers encode, print or read it and never
    mutate it (the HTTP server, the CLI, bench.py and the examples
    do only that)."""

    _STATS = ("plan_hits", "plan_misses", "response_hits", "evictions", "self_heals")
    _OUTPUT_KINDS = ("rows", "table")

    def __init__(
        self, engine: CubeEngine, rollups=None, plan_cache_size: int = 128
    ):
        self.engine = engine
        self.catalog = engine.catalog
        #: optional opl_spark.rollups.RollupStore — core aggregate
        #: requests route through the materialized lattice when set
        #: (identical results either way; tests/test_rollups.py pins it)
        self.rollups = rollups
        self._plan_cache_size = max(0, int(plan_cache_size))
        self._plan_cache: OrderedDict[tuple, Any] = OrderedDict()
        #: (plan key, output kind) -> (plan, payload); every key names
        #: a plan in ``_plan_cache`` (dropped with it)
        self._responses: dict[tuple, tuple] = {}
        self._stats = dict.fromkeys(self._STATS, 0)
        # the server is ThreadingHTTPServer: concurrent requests mutate
        # the LRU (move_to_end / popitem) — guard the compound ops
        self._plan_cache_lock = threading.Lock()

    def cache_stats(self) -> dict[str, int]:
        """Cache counters since construction (a disabled cache counts
        nothing):

        - ``plan_hits`` / ``plan_misses``: ``/aggregate`` and
          ``/explain`` plan lookups that found / built a plan;
        - ``response_hits``: ``/aggregate`` requests answered from a
          memoized response (no plan lookup, no Spark job);
        - ``evictions``: plans the LRU bound dropped, responses and all;
        - ``self_heals``: requests whose cached plan failed to execute
          and that succeeded after evicting and rebuilding it."""
        with self._plan_cache_lock:
            return dict(self._stats)

    def clear_plan_cache(self) -> None:
        """Drop every cached aggregate plan and memoized response.
        Fact re-registration and lattice rewrites invalidate
        structurally (see the class docstring); call this for
        out-of-band plan-affecting changes the keys can't see — e.g.
        re-configuring the rollup lattice.  (An in-place rollup
        RE-materialization additionally deletes the files a cached
        plan's index lists; ``_aggregate`` self-heals that case by
        evicting and rebuilding on execution failure, so a daemon
        survives `-c materialize` from another process without this
        call.)"""
        with self._plan_cache_lock:
            self._plan_cache.clear()
            self._responses.clear()

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
        if params.get("output") == "table":
            return to_table(df)
        rows = [r.asDict() for r in df.collect()]
        return {"data": rows} if rows else {"message": "empty_dataset"}

    # the params _build_aggregate_df_uncached actually consumes — the
    # cache key must fold in nothing else, or requests differing only
    # in junk parameters occupy distinct LRU slots and evict the hot
    # dashboard plans the cache exists for (ADVICE r12).  Defined ONCE
    # and consumed by BOTH _cache_key and _plan_kwargs (ADVICE r12,
    # low): the builder reads request params exclusively through
    # _plan_kwargs, so a future parameter added there without extending
    # this tuple is structurally impossible — the lockstep is pinned by
    # tests/test_http_server.py::test_plan_params_single_source.
    _CORE_PLAN_PARAMS = ("cut", "drilldown", "measure", "aggregate", "hierarchy")
    _EXT_PLAN_PARAMS = ("top_n", "top_within", "having", "share", "share_within")
    _PLAN_PARAMS = _CORE_PLAN_PARAMS + _EXT_PLAN_PARAMS

    @classmethod
    def _plan_kwargs(cls, params: dict[str, str]) -> dict:
        """The ONE place request params become aggregate kwargs — every
        name here is in _PLAN_PARAMS by construction (keys are drawn
        from it), so the cache key can never miss a consumed param."""
        kw = {k: params.get(k) for k in cls._CORE_PLAN_PARAMS}
        kw["top_n"] = int(params["top_n"]) if "top_n" in params else None
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
        )

    def _drop_responses(self, key: tuple) -> None:
        """Forget the responses of plan ``key`` (lock held)."""
        for kind in self._OUTPUT_KINDS:
            self._responses.pop((key, kind), None)

    def _evict_plan(self, key: tuple) -> None:
        """Drop one cached plan and its responses (execution-failure
        recovery path)."""
        with self._plan_cache_lock:
            self._plan_cache.pop(key, None)
            self._drop_responses(key)

    def _build_aggregate_df(self, fact: str, params: dict[str, str]):
        """ONE plan builder for ``/aggregate`` and ``/explain`` — the
        explain contract ('previews exactly the plan aggregate runs')
        holds by construction because both routes call this.  Core
        requests route through the rollup lattice when configured;
        extension params always go to the live engine.  Built plans
        are LRU-cached per (fact, frame version, lattice version, plan
        params) — see the class docstring; failed builds are never
        cached, and ``_aggregate`` evicts-and-retries when a cached
        plan's EXECUTION fails (a rollup re-materialized in place
        deletes the files a cached plan's index lists)."""
        if not self._plan_cache_size:
            return self._build_aggregate_df_uncached(fact, params)
        key = self._cache_key(fact, params, self._lattice_version(fact))
        return self._cached_plan(key, fact, params)

    def _lattice_version(self, fact: str) -> int | None:
        return None if self.rollups is None else self.rollups.lattice_version(fact)

    def _cached_plan(self, key: tuple, fact: str, params: dict[str, str]):
        with self._plan_cache_lock:
            cached = self._plan_cache.get(key)
            if cached is not None:
                self._plan_cache.move_to_end(key)
                self._stats["plan_hits"] += 1
                return cached
        df = self._build_aggregate_df_uncached(fact, params)
        with self._plan_cache_lock:
            self._stats["plan_misses"] += 1
            self._plan_cache[key] = df
            # a replaced plan's responses go with it
            self._drop_responses(key)
            if len(self._plan_cache) > self._plan_cache_size:
                old, _ = self._plan_cache.popitem(last=False)
                self._drop_responses(old)
                self._stats["evictions"] += 1
        return df

    def _build_aggregate_df_uncached(self, fact: str, params: dict[str, str]):
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
        if not self._plan_cache_size:
            return self._materialize(self._build_aggregate_df(fact, params), params)
        # the lattice version is read BEFORE the plan runs: a lattice
        # rewritten mid-request leaves this plan and response under the
        # old version, which no later request matches
        key = self._cache_key(fact, params, self._lattice_version(fact))
        slot = (key, "table" if params.get("output") == "table" else "rows")
        with self._plan_cache_lock:
            plan, payload = self._responses.get(slot, (None, None))
            if plan is not None and plan is self._plan_cache.get(key):
                self._plan_cache.move_to_end(key)
                self._stats["response_hits"] += 1
                return payload
        df = self._cached_plan(key, fact, params)
        healed = False
        try:
            payload = self._materialize(df, params)
        except (KeyError, ValueError):
            raise  # request errors — nothing to retry
        except Exception:
            # a CACHED plan can outlive its scanned files (an in-place
            # rollup re-materialization deletes the parts its file
            # index lists); without eviction the poisoned entry would
            # 400 this shape until restart.  Evict, rebuild, retry
            # ONCE — a fresh-plan failure is a real error and raises.
            self._evict_plan(key)
            df = self._cached_plan(key, fact, params)
            payload = self._materialize(df, params)
            healed = True
        with self._plan_cache_lock:
            self._stats["self_heals"] += healed
            # memoize only under the plan that produced it, if a
            # concurrent eviction or rebuild has not replaced it
            if self._plan_cache.get(key) is df:
                self._responses[slot] = (df, payload)
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
