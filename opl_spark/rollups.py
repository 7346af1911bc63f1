"""Aggregate navigator: a materialized rollup lattice over a fact
table, with transparent query routing.

The reference's single real optimization is materialized
pre-aggregation — the OLAP DB stores *query results* so API reads
never touch the production DB (SURVEY.md §4; reference `README.md:4`,
`library_olap/README.md:11`).  This module generalizes that design
point the way warehouse engines do: operators declare a small lattice
of groupings worth materializing; ``materialize`` writes one
pre-aggregated parquet table per grouping carrying RE-AGGREGABLE
partials (sum / non-null count / min / max per measure); ``aggregate``
plans a cube query once with the engine, answers it from the smallest
covering rollup, and falls back to the base fact when none covers (or
the aggregate isn't derivable from partials — median needs the raw
values or a sketch).  Either way the engine's one answer step and its
one expression per aggregate build the result: over rollup partials
or over fact columns.

At 100 TB this converts report-latency queries from fact-sized scans
to rollup-sized ones (dims × levels rows), which is exactly the
reference's architecture — kept, but now lattice-wide and
automatically routed.

Correctness: partials re-aggregate exactly for sum/count/min/max over
integral measures and over the engine's exact-decimal measure
convention; avg derives as sum/count from the same partials, and the
output typing (decimal in, round(double, 2) out) follows the fact's
schema exactly as on the fact path.  The routed result is asserted
equal to the base-engine result in tests/test_rollups.py.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from opl_spark.cube import CORE_PARAMS, CubeEngine
from opl_spark.sources.registry import open_parquet, write_counted

#: Each input of a derivable aggregate as a rollup partial: its column
#: prefix and how partials re-reduce (counts re-add; the coalesce keeps
#: a routed count non-nullable, like the fact path's ``count``).
_PARTIALS = {
    "sum": ("__sum", F.sum),
    "count": ("__cnt", lambda c: F.coalesce(F.sum(c), F.lit(0))),
    "min": ("__min", F.min),
    "max": ("__max", F.max),
}


def _grouping_key(cols: list[str]) -> str:
    return "__".join(re.sub(r"[^A-Za-z0-9_]", "_", c) for c in cols)


def _partials(measures) -> list:
    """The lattice's four partials per measure (``materialize``
    aggregates the fact with these)."""
    return [
        CubeEngine._fact_input(m, kind).alias(f"{prefix}_{m.name}")
        for m in measures
        for kind, (prefix, _) in _PARTIALS.items()
    ]


def _rollup_dirs(manifest: dict) -> set[str]:
    """The rollup directories (names under ``<base>/<fact>/``) a
    manifest lists.  An entry written before rollups got a fresh
    directory per write has no ``dir`` and lives under its key."""
    return {info.get("dir", key) for key, info in manifest["rollups"].items()}


def _reduced(m, kind: str) -> Column:
    """A rollup's ``kind`` partial of measure ``m``, re-reduced over a
    coarser group: the rollup path's input to ``CubeEngine._agg_exprs``."""
    prefix, reduce = _PARTIALS[kind]
    return reduce(F.col(f"{prefix}_{m.name}"))


def _fact_version(frame: DataFrame) -> str:
    """Content fingerprint of a fact frame's backing files: md5 over
    the sorted input-file list.  The snapshot model is append-only
    (appends add files; ``compact`` swaps directories), so any ingest
    changes the listing — and therefore this token.  A driver-side
    metadata call (the file index is already resolved); no data scan.
    """
    import hashlib

    return hashlib.md5("\n".join(sorted(frame.inputFiles())).encode()).hexdigest()


class RollupStore:
    """Materialized-rollup registry for one warehouse directory.

    Layout: ``<base>/<fact>/_LATTICE.json`` plus one parquet directory
    per rollup write, ``<base>/<fact>/<grouping_key>.<gen>/``, where
    ``gen`` is fresh for every write and never reused.  The manifest
    records each rollup's grouping columns, row count and directory
    (``dir``; an entry written before that field existed reads
    ``<base>/<fact>/<grouping_key>/``), the fact version the lattice
    was built from, and the measures it carries partials for.  Output
    typing comes from the fact schema, as on the fact path, so the
    ``fractional`` flag older manifests record per measure is not
    read.

    Publishing the manifest (:meth:`_publish`, one ``os.replace``) is
    the lattice's only commit: ``materialize`` never writes into a
    directory a manifest lists, so a failed or crashed write leaves the
    published lattice serving.  A request routes (:meth:`_route`) and
    reads its rollup from one lattice snapshot (:meth:`_lattice`), so
    it never mixes two manifests, and its files get one publish of
    grace: a directory is deleted only once neither the published
    manifest nor the one it replaced lists it.

    Single writer: one ``materialize`` at a time per fact, across
    processes.  A second writer's unpublished directories are not
    listed by any manifest, and the first writer's sweep deletes them.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        # request-path caches (r13): a routed aggregate is interactive —
        # re-reading the manifest JSON, re-resolving every rollup's
        # parquet file index, and re-listing the fact's input files on
        # EVERY request cost more than the routed scan saved.  The
        # lattice cache holds one snapshot per fact, (manifest mtime,
        # manifest, {rollup key: frame}), replaced whole when
        # lattice_version() changes: a re-materialize, in this
        # process or another, publishes a new manifest, and the
        # frames go with the manifest that listed them.  The
        # fact-version cache holds one entry per fact, valid for the
        # registered frame OBJECT it pins, whose resolved file index is
        # immutable (a re-registration is a new object and replaces the
        # entry; SnapshotEngine appends re-register).
        self._lattices: dict[str, tuple[int | None, dict, dict]] = {}
        self._version_cache: dict[str, tuple[DataFrame, str]] = {}

    def _fact_dir(self, fact: str) -> str:
        return os.path.join(self.base_dir, fact)

    def _manifest_path(self, fact: str) -> str:
        return os.path.join(self._fact_dir(fact), "_LATTICE.json")

    def lattice_version(self, fact: str) -> int | None:
        """Identity of ``fact``'s lattice: its manifest's mtime (ns), or
        None when nothing is materialized.  ``materialize`` publishes
        a new manifest — in this process or another — so any change to
        the lattice changes this token; response
        caches over routed aggregates key on it."""
        try:
            return os.stat(self._manifest_path(fact)).st_mtime_ns
        except FileNotFoundError:
            return None

    def _lattice(self, fact: str) -> tuple[int | None, dict, dict]:
        """``fact``'s lattice snapshot ``(version, manifest, {rollup
        key: frame})``, for one stat of the manifest when it is
        unchanged.  Otherwise the manifest is read once, and the new
        snapshot takes its version from the open file, so the version
        is that of the manifest it holds."""
        version = self.lattice_version(fact)
        snap = self._lattices.get(fact)
        if snap is None or snap[0] != version:
            snap = (None, {"rollups": {}, "measures": {}}, {})
            if version is not None:
                with open(self._manifest_path(fact)) as fh:
                    snap = (os.fstat(fh.fileno()).st_mtime_ns, json.load(fh), {})
            self._lattices[fact] = snap
        return snap

    def _publish(self, fact: str, manifest: dict) -> None:
        """The one manifest write: a temp file beside ``_LATTICE.json``,
        then ``os.replace``, so a reader (this process or another) sees
        the old manifest or the new one, never a partial one."""
        os.makedirs(self._fact_dir(fact), exist_ok=True)
        path = self._manifest_path(fact)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1, sort_keys=True)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def _fact_version_cached(self, fact: str, frame: DataFrame) -> str:
        # the registered frame is a long-lived object in the engine's
        # registry; a re-registration (how appends become visible) is a
        # NEW object, fails the identity check and replaces the fact's
        # one entry, so the cache never outgrows the registered facts
        hit = self._version_cache.get(fact)
        if hit is not None and hit[0] is frame:
            return hit[1]
        v = _fact_version(frame)
        self._version_cache[fact] = (frame, v)
        return v

    # -- build --------------------------------------------------------------

    def materialize(
        self, engine: CubeEngine, fact: str, groupings: list[list[str]]
    ) -> dict:
        """Write one partial-aggregate parquet per grouping (columns
        are PHYSICAL fact columns — include every hierarchy level you
        want cuttable/drillable through the rollup), each into a fresh
        directory, then publish one manifest listing them.  Re-running
        a grouping replaces its manifest entry, not its files.  Rollups
        not listed in ``groupings`` stay in the lattice only while the
        fact's files are unchanged since they were built; otherwise
        they are dropped (stale partials never answer a request).

        After the publish, every directory under ``<base>/<fact>/``
        that neither the new manifest nor the one it replaced lists is
        deleted: dropped rollups one publish late, and whatever a
        failed or crashed earlier write left.  Rollups are written one
        after another, by one writer (see :class:`RollupStore`)."""
        meta = engine.catalog.fact(fact)
        base = engine.frame(fact)
        partials = _partials(meta.measures)
        measures_info = {m.name: {"physical": m.physical} for m in meta.measures}
        # staleness guard: record WHICH fact files these rollups were
        # aggregated from; _route() refuses the lattice when the live
        # fact has since gained files.  A rollup this call does not
        # rebuild is kept only if it was aggregated from the same files
        # — the new stamp must not vouch for a pre-append rollup
        version = _fact_version(base)
        old = self._lattice(fact)[1]
        kept = old["rollups"] if old.get("fact_version") == version else {}
        manifest = {
            "measures": measures_info,
            "fact_version": version,
            "rollups": dict(kept),
        }
        for cols in groupings:
            key = _grouping_key(cols)
            rolled = base.groupBy(*cols).agg(*partials)
            name = f"{key}.{uuid.uuid4().hex}"
            path = os.path.join(self._fact_dir(fact), name)
            rows = write_counted(rolled, path, f"rollup_{fact}_{key}")
            manifest["rollups"][key] = {"cols": cols, "rows": rows, "dir": name}
        self._publish(fact, manifest)
        listed = _rollup_dirs(old) | _rollup_dirs(manifest)
        for entry in os.scandir(self._fact_dir(fact)):
            if entry.is_dir() and entry.name not in listed:
                shutil.rmtree(entry.path, ignore_errors=True)
        return manifest

    @staticmethod
    def _needed_cols(q, group_cols: list[str]) -> set[str]:
        """The physical columns a planned cube query needs a rollup to
        carry: the planned group columns plus every level of each cut
        dimension's hierarchy (the compiled cut filters the rollup)."""
        needed = set(group_cols)
        for t in q.cut_terms:
            dim = q.fact.dimension(t.dimension)
            for lv in dim.hierarchy_order(q.hierarchy_by_dim.get(t.dimension)):
                needed.add(dim.level(lv).physical)
        return needed

    def advise(
        self,
        engine: CubeEngine,
        fact: str,
        query_log: list[dict],
        max_rollups: int = 3,
    ) -> list[dict]:
        """Lattice ADVISOR — the classic companion to materialized
        pre-aggregation (cf. SQL Server's Database Tuning Advisor /
        Harinarayan et al. 1996 "Implementing Data Cubes
        Efficiently"): given a log of aggregate-request params, rank
        which groupings to ``materialize``.

        A candidate grouping is each distinct needed-column set in the
        log; it covers every logged query whose needed set it
        contains.  Candidate cardinalities come from ONE distributed
        pass (a single aggregate of ``approx_count_distinct`` over
        each candidate's column struct — never one job per candidate),
        and selection is the greedy benefit rule: pick the grouping
        with the largest Σ frequency × (fact_rows − est_rows) over
        still-uncovered queries, ``max_rollups`` times.  Returns
        ``[{cols, est_rows, covers, benefit}]``, materialize-ready.

        Driver state is candidate-set-sized (distinct query shapes in
        the log), never data-sized.  A log with more than
        ``max_candidates`` (64) distinct shapes keeps the most frequent
        ones (one aggregate expression per candidate goes into the
        single estimation pass — unbounded shapes would bloat that
        plan); the trim is explicit, not silent: trimmed shapes still
        COUNT toward the covers/benefit of any kept candidate that
        contains them, they just can't be recommended themselves."""
        max_candidates = 64
        shapes: dict[frozenset, int] = {}
        for params in query_log:
            q, group_cols = engine._plan(fact, *(params.get(k) for k in CORE_PARAMS))
            if any(agg not in engine.DERIVABLE for _, agg, _ in q.measures):
                continue  # can never route — no rollup helps it
            key = frozenset(self._needed_cols(q, group_cols))
            shapes[key] = shapes.get(key, 0) + 1
        ranked_shapes = sorted(
            (s for s in shapes if s), key=lambda s: -shapes[s]
        )
        candidates = [sorted(s) for s in ranked_shapes[:max_candidates]]
        if not candidates:
            return []
        base = engine.frame(fact)
        est_row = base.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.approx_count_distinct(F.struct(*cols)).alias(f"__c{i}")
                for i, cols in enumerate(candidates)
            ],
        ).first()
        fact_rows = est_row["__n"]
        est = {
            frozenset(cols): est_row[f"__c{i}"]
            for i, cols in enumerate(candidates)
        }
        uncovered = dict(shapes)
        picked: list[dict] = []
        while uncovered and len(picked) < max_rollups:
            best, best_benefit, best_covers = None, 0, 0
            for cols in candidates:
                cset = frozenset(cols)
                covers = [s for s in uncovered if s <= cset]
                benefit = sum(
                    uncovered[s] * max(fact_rows - est[cset], 0) for s in covers
                )
                if benefit > best_benefit:
                    best, best_benefit = cset, benefit
                    best_covers = sum(uncovered[s] for s in covers)
            if best is None:
                break
            picked.append(
                {
                    "cols": sorted(best),
                    "est_rows": int(est[best]),
                    "covers": best_covers,
                    "benefit": int(best_benefit),
                }
            )
            for s in [s for s in uncovered if s <= best]:
                del uncovered[s]
        return picked

    # -- route + answer -----------------------------------------------------

    def _route(
        self, engine: CubeEngine, fact: str, q, group_cols: list[str], manifest: dict
    ) -> tuple[dict | None, str]:
        """The one router, shared by :meth:`aggregate` and
        :meth:`route_report`, over the engine's plan of the request and
        one snapshot's manifest: ``(rollup, "")`` for the smallest (by
        materialized row count) rollup that covers the planned query
        when every aggregate derives from its partials, else ``(None,
        reason)``.

        Staleness guard: the manifest records the version
        (:func:`_fact_version`) of the fact files the lattice was built
        from.  When the registered fact frame's version differs (new
        snapshot files appended since), every rollup is stale and
        nothing routes, so the request falls back to the live fact
        instead of serving pre-ingest aggregates.  A manifest without a
        recorded version (a pre-guard lattice) is stale too."""
        for m, agg, _ in q.measures:
            if agg not in engine.DERIVABLE or m.name not in manifest["measures"]:
                return None, f"aggregate {agg!r} not derivable"
        needed = self._needed_cols(q, group_cols)
        fresh = manifest.get("fact_version") == self._fact_version_cached(
            fact, engine.frame(fact)
        )
        covering = [
            {"key": key, **info}
            for key, info in manifest["rollups"].items()
            if fresh and needed <= set(info["cols"])
        ]
        if not covering:
            return None, f"no rollup covers {sorted(needed)}"
        return min(covering, key=lambda hit: hit["rows"]), ""

    def route_report(self, engine: CubeEngine, fact: str, **params) -> dict:
        """Routedness evidence for one request shape: which rollup (if
        any) would answer it and why not otherwise — the per-shape
        receipt the latency recording (bench.py --latency) commits.
        Post-aggregation params (top_n/having/share…) never block
        routing (they apply to the report-sized routed result), so
        only the core params participate."""
        q, group_cols = engine._plan(fact, *(params.get(k) for k in CORE_PARAMS))
        hit, reason = self._route(engine, fact, q, group_cols, self._lattice(fact)[1])
        if hit is None:
            return {"routed": False, "rollup": None, "reason": reason}
        return {"routed": True, "rollup": hit["key"], "rows": hit["rows"]}

    def aggregate(
        self,
        engine: CubeEngine,
        fact: str,
        cut: str | None = None,
        drilldown: str | None = None,
        measure: str | None = None,
        aggregate: str | None = None,
        hierarchy: str | None = None,
        top_n: int | None = None,
        top_within: str | None = None,
        having: str | None = None,
        share: bool = False,
        share_within: str | None = None,
    ) -> DataFrame:
        """`CubeEngine.aggregate`, answered from the lattice when a
        rollup covers the query's cut + drilldown columns and every
        requested aggregate derives from partials — else from the base
        fact, transparently (same output either way).

        The engine plans the request once, and the engine's answer
        step runs over the rollup or the fact: the cut compiled
        against the fact filters either, and the aggregates (built
        from re-reduced partials or from fact columns) feed the same
        groupBy → share → having → top_n → sort path.  So
        ``share``/``having``/``top_n`` ride the re-aggregated report
        (the exact same dims × levels rows) instead of forcing the
        request back to the fact scan.  Equality with the base engine
        across the full pinned request mix is asserted in
        tests/test_rollups.py."""
        q, group_cols = engine._plan(
            fact, cut, drilldown, measure, aggregate, hierarchy
        )
        _, manifest, frames = self._lattice(fact)
        hit, _ = self._route(engine, fact, q, group_cols, manifest)
        src, part = engine.frame(fact), None
        if hit is not None:
            key = hit["key"]
            if key not in frames:
                path = os.path.join(self._fact_dir(fact), hit.get("dir", key))
                frames[key] = open_parquet(self.spark, path)
            src, part = frames[key], _reduced
        return engine._answer(
            src, q, group_cols, part,
            top_n=top_n, top_within=top_within, having=having,
            share=share, share_within=share_within,
        )
